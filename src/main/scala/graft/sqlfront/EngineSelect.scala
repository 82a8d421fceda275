package graft.sqlfront

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Dml

/** The SELECT-execution face of [[Engine]] (mechanical split, see
  * [[EngineTranslate]]): runSelect/_ROWID_ wiring, INFORMATION_SCHEMA
  * meta-view synthesis, alias-in-WHERE substitution, and the per-row
  * NEXTVAL INSERT…SELECT source. */
private[sqlfront] trait EngineSelect { this: Engine =>

  private[sqlfront] def runSelect(q0: String): DataFrame = {
    var q = stripForUpdate(q0)
    // _ROWID_ pseudo-column (PseudoColumnTest): integral-PK tables get the
    // token substituted with the key column; hidden-rowid tables get the
    // FULL frame swapped in as the view for this statement only.
    // Known divergence: `SELECT *` in such a statement shows _rowid_.
    val restoreHidden = mutable.Buffer.empty[String]
    if (referencedOutsideLiterals(q, "_ROWID_")) {
      def refed(tn: String) = referencedOutsideLiterals(q, tn)
      val hid = rowidTables.toSeq.filter(refed)
      val pkT = rowidPk.toSeq.filter { case (tn, _) => refed(tn) }
      if (hid.isEmpty && pkT.size == 1)
        q = Rw.rewrite(q, Rw.Kw("_ROWID_"))(_ => pkT.head._2)
      hid.foreach { tn =>
        tables(tn).createOrReplaceTempView(tn); restoreHidden += tn }
    }
    try runSelectTranslated(q)
    finally restoreHidden.foreach(tn =>
      tables(tn).drop("_rowid_").createOrReplaceTempView(tn))
  }

  /** Word-boundary occurrence of `word` outside string literals. */
  private[sqlfront] def referencedOutsideLiterals(q: String, word: String): Boolean =
    Lex.tokens(q).exists(_.isIdent(q, word))

  /** Strip a trailing top-level `FOR UPDATE [OF col, …] [NOWAIT]` or
    * `FOR READ|FETCH ONLY` (Parser.java:1576-1589). Row locks are a
    * concurrency attribute: this engine executes one statement at a time
    * against copy-on-write snapshots, so the statement's RESULT is
    * identical with or without the lock — setForUpdate(true) maps to a
    * no-op by construction (the reference's own NOWAIT is likewise a
    * parse-and-ignore TODO, Parser.java:1583). Only the statement-final,
    * depth-0 clause is touched; a `for` inside a subquery or literal
    * never matches. */
  private[sqlfront] def stripForUpdate(q: String): String = {
    val ts = Lex.tokens(q)
    def w(i: Int): String =
      if (i >= 0 && i < ts.length && ts(i).kind == Lex.Word)
        ts(i).text(q).toUpperCase else ""
    // find the last depth-0 FOR; everything after must match the clause
    val fi = ts.indices.reverse.find(i => ts(i).depth == 0 && w(i) == "FOR")
      .getOrElse(return q)
    var i = fi + 1
    val ok = w(i) match {
      case "UPDATE" =>
        i += 1
        if (w(i) == "OF") {
          i += 1
          // ident (, ident)* — and NOTHING after: the reference grammar
          // treats the OF-list and NOWAIT as mutually exclusive
          // alternatives (Parser.java:1578-1584), so `FOR UPDATE OF a
          // NOWAIT` is a syntax error there and stays one here
          var good = ts.lift(i).exists(_.kind == Lex.Word)
          i += 1
          while (good && i < ts.length && ts(i).kind == Lex.Sym &&
              q.charAt(ts(i).start) == ',') {
            good = ts.lift(i + 1).exists(_.kind == Lex.Word)
            i += 2
          }
          good && i == ts.length
        } else if (w(i) == "NOWAIT") { i += 1; i == ts.length }
        else i == ts.length
      case "READ" | "FETCH" =>
        i += 1
        if (w(i) == "ONLY") { i += 1; i == ts.length } else false
      case _ => false
    }
    if (ok) q.substring(0, ts(fi).start) else q
  }

  private[sqlfront] def runSelectTranslated(q: String): DataFrame = {
    val t = translate(q)
    val df =
      try spark.sql(t)
      catch {
        // H2 resolves select-list aliases in WHERE (`SELECT pk AS A … WHERE
        // A='01'`, SelectTest.java); Spark doesn't — on an unresolved-column
        // failure, retry once with WHERE-clause aliases substituted
        case e: org.apache.spark.sql.AnalysisException
            if String.valueOf(e.getMessage).contains("UNRESOLVED_COLUMN") =>
          substWhereAliases(t).map(spark.sql).getOrElse(throw e)
      }
    // MySQL-mode lowerCaseIdentifiers (Mode.java:151): result column names
    // fold to lower case (Spark otherwise preserves as-written case)
    if (modeFlags.lowerCaseIdentifiers && df.columns.exists(c => c != c.toLowerCase))
      df.toDF(df.columns.map(_.toLowerCase).toIndexedSeq: _*)
    else df
  }

  /** Substitute top-level select-list aliases into the top-level WHERE
    * clause (Select.java alias resolution). Returns None if nothing to do. */
  private[sqlfront] def substWhereAliases(q: String): Option[String] = {
    val up = q.toUpperCase
    if (!up.trim.startsWith("SELECT")) return None
    val fromIdx = topLevelIndexOf(q, "FROM")
    val whereIdx = topLevelIndexOf(q, "WHERE")
    if (fromIdx < 0 || whereIdx < fromIdx) return None
    val selStart = up.indexOf("SELECT") + 6
    var selectList = q.substring(selStart, fromIdx)
    selectList = """(?is)^\s*DISTINCT\s+""".r.replaceFirstIn(selectList, "")
    val aliasRe = """(?is)^(.*\S)\s+AS\s+(\w+)\s*$""".r
    // H2 resolves real columns BEFORE aliases (Select.java) — an alias that
    // shadows a column of a referenced table must not be substituted, or the
    // retry silently rewrites a valid column reference (round-2 advice).
    // masked: a table-name-shaped word inside a string literal in a join
    // condition must not pull that table's columns into the shadow set
    val fromSeg = Stmt(q.substring(fromIdx + 4, whereIdx)).masked
    val realCols: Set[String] = """\b\w+\b""".r.findAllIn(fromSeg)
      .map(_.toLowerCase).toSet
      .flatMap((t: String) => tables.get(t).toSeq.flatMap(_.columns.map(_.toLowerCase)))
    val aliases = splitTop(selectList).map(_.trim).collect {
      case aliasRe(e, a) if !realCols(a.toLowerCase) => a.toLowerCase -> e
    }.toMap
    if (aliases.isEmpty) return None
    val whereEnd0 = earliestTopLevel(q.substring(whereIdx + 5),
      Seq("GROUP BY", "HAVING", "ORDER BY", "LIMIT", "OFFSET"))
    val whereEnd = if (whereEnd0 < 0) q.length else whereIdx + 5 + whereEnd0
    var whereSeg = q.substring(whereIdx + 5, whereEnd)
    var changed = false
    aliases.foreach { case (a, e) =>
      val next = Rw.rewrite(whereSeg, Rw.Kw(a))(_ => s"($e)")
      if (next != whereSeg) { changed = true; whereSeg = next }
    }
    if (!changed) None
    else Some(q.substring(0, whereIdx + 5) + whereSeg + q.substring(whereEnd))
  }

  private[sqlfront] val seqNameLit = Rw.Lit(inner =>
    inner.nonEmpty && inner.forall(c => c.isLetterOrDigit || c == '_'))

  /** H2's dotted sequence pseudo-columns `seq.NEXTVAL` / `seq.CURRVAL`
    * (SequenceTest.java:42-49; Parser.java readTermObjectDot) → the
    * function forms, so every later stage — per-statement substitution
    * AND the per-row INSERT…SELECT lowering — sees ONE shape. Only names
    * registered as sequences rewrite; any other `x.nextval` stays a
    * column reference. */
  private[sqlfront] def normalizeSeqRefs(q0: String): String = {
    var q = q0
    sequences.keys.toSeq.sorted.foreach { n =>
      q = Rw.rewrite(q, Rw.W(n), Rw.Sy('.'), Rw.Kw("NEXTVAL"))(_ =>
        s"NEXTVAL('$n')")
      q = Rw.rewrite(q, Rw.W(n), Rw.Sy('.'), Rw.Kw("CURRVAL"))(_ =>
        s"CURRVAL('$n')")
    }
    q
  }

  /** Driver-side evaluation of the reference's service-call function pair
    * EXECUTE_SERVICE_{NO_,WITH_}RETURN_VALUE('SERVICE.METHOD', 'jsonArgs')
    * (Function.java:951-965 → ServiceExecuterManager → the generated
    * executer) — the substSequences discipline: literal arguments
    * evaluate eagerly per occurrence in statement order and the result
    * splices back as a string literal (NULL for a void method or a null
    * result — the reference's ValueNull). Column-dependent arguments are
    * not substituted: the reference's own client proxies always send
    * literals (each generated Proxy encodes one JsonArray constant). */
  private[sqlfront] def substServices(q0: String): String =
    Rw.rewrite(q0,
        Rw.W("EXECUTE_SERVICE_NO_RETURN_VALUE",
          "EXECUTE_SERVICE_WITH_RETURN_VALUE"),
        Rw.Sy('('), Rw.Lit(), Rw.Sy(','), Rw.Lit(), Rw.Sy(')')) { c =>
      val withReturn =
        c(0).equalsIgnoreCase("EXECUTE_SERVICE_WITH_RETURN_VALUE")
      val r = executeServiceCall(c(1), c(2).replace("''", "'"))
      if (!withReturn) "NULL"
      else r.map(v => "'" + v.replace("'", "''") + "'").getOrElse("NULL")
    }

  /** Sequence lookup with the reference's error text (ErrorCode
    * SEQUENCE_NOT_FOUND_1: `Sequence "X" not found`) instead of a bare
    * map NoSuchElementException. */
  private[sqlfront] def seqOrFail(name: String): Sequence =
    sequences.getOrElse(name.toLowerCase,
      throw new IllegalArgumentException(
        s"""Sequence "${name.toUpperCase}" not found"""))

  private[sqlfront] def substSequences(q0: String): String = {
    // ONE left-to-right pass over both function kinds: the reference
    // evaluates expressions in statement order, so in
    // `select s.CURRVAL, s.NEXTVAL` the CURRVAL reads the value BEFORE
    // the NEXTVAL increments (SequenceTest.java:49-58). Per-occurrence
    // evaluation (each NEXTVAL increments), literal-safe structurally
    // (the 'name' literal is matched as ONE token).
    Rw.rewrite(normalizeSeqRefs(q0), Rw.W("NEXTVAL", "CURRVAL"), Rw.Sy('('),
        seqNameLit, Rw.Sy(')')) { c =>
      val s = seqOrFail(c(1))
      if (c(0).equalsIgnoreCase("NEXTVAL")) s.nextVal().toString
      else s.curr.toString
    }
  }

  /** SELECT source for INSERT INTO … SELECT. A plain textual NEXTVAL
    * substitution would hand every row the same value; the reference's
    * SequenceValue evaluates per row (round-1 advice). Occurrence j of a
    * sequence with k occurrences in the statement becomes
    * `base + ((rownum-1)*k + j) * inc` — exactly the reference's
    * left-to-right per-row evaluation order — and the counter advances by
    * rowCount*k afterwards. The global row_number keeps the same
    * non-parallel contract as the reference's Sequence (documented). */
  private[sqlfront] def selectForInsert(q0: String): DataFrame = {
    val q = normalizeSeqRefs(q0) // dotted seq.NEXTVAL → the function form
    // pass 1 only counts occurrences per sequence (the rewritten text is
    // discarded); pass 2 substitutes with the per-occurrence (j, k) terms
    val names = mutable.ArrayBuffer.empty[String]
    Rw.rewrite(q, Rw.Kw("NEXTVAL"), Rw.Sy('('), seqNameLit, Rw.Sy(')')) { c =>
      names += c(0).toLowerCase; ""
    }
    if (names.isEmpty) return runSelect(q)
    val bySeq: Map[String, Int] =
      names.groupBy(identity).map { case (k, v) => k -> v.size }
    val occIdx = mutable.HashMap.empty[String, Int]
    val rn = "(ROW_NUMBER() OVER (ORDER BY monotonically_increasing_id()) - 1)"
    val out = Rw.rewrite(q, Rw.Kw("NEXTVAL"), Rw.Sy('('), seqNameLit,
        Rw.Sy(')')) { c =>
      val s = c(0).toLowerCase
      val seq = seqOrFail(s)
      val k = bySeq(s)
      val j = occIdx.getOrElse(s, 0); occIdx(s) = j + 1
      s"(${seq.next} + ($rn * ${k * seq.inc} + ${j * seq.inc}))"
    }
    val df = runSelect(out)
    val n = df.count()
    bySeq.foreach { case (s, k) => sequences(s).advance(n * k) }
    df
  }

  /** INFORMATION_SCHEMA synthesis (MetaTable.java:68 — ids :77-107): the
    * meta tables meaningful for a batch engine, generated from the live
    * catalog. Registered lazily per reference. */
  private[sqlfront] def metaView(name: String): String = {
    import spark.implicits._
    val view = s"graft_info_$name"
    val df = name match {
      case "tables" =>
        tables.keys.toSeq.map(t => ("graft", "public", t, "TABLE", "PARQUET"))
          .toDF("table_catalog", "table_schema", "table_name", "table_type",
            "storage_type")
      case "columns" =>
        tables.toSeq.flatMap { case (t, df0) =>
          df0.schema.fields
            .filterNot(f => rowidTables.contains(t) && f.name == "_rowid_")
            .zipWithIndex.map { case (f, i) =>
              (t, f.name, i + 1, f.dataType.catalogString.toUpperCase,
                if (f.nullable) "YES" else "NO")
            }
        }.toDF("table_name", "column_name", "ordinal_position", "data_type",
          "is_nullable")
      case "sequences" =>
        sequences.toSeq.map { case (n, s) => (n, s.curr, s.inc) }
          .toDF("sequence_name", "current_value", "increment")
      case "settings" =>
        (spark.conf.getAll.toSeq.sortBy(_._1) ++
          sessionSettings.toSeq.map { case (k, v) => (k, v) })
          .toDF("setting_name", "setting_value")
      case "constraints" =>
        (primaryKeys.toSeq.map { case (t, ks) =>
          (t, "PRIMARY_KEY", "PRIMARY KEY", ks.mkString(",")) } ++
         foreignKeys.toSeq.map(fk => (fk.table, fk.name, "REFERENTIAL",
           fk.cols.mkString(",") + "->" + fk.refTable + "(" +
             fk.refCols.mkString(",") + ")")) ++
         checks.toSeq.map(ck => (ck.table, ck.name, "CHECK", ck.expr)) ++
         indexes.values.filter(_.unique).toSeq.map(ix =>
           (ix.table, ix.name, "UNIQUE", ix.cols.mkString(","))))
          .toDF("table_name", "constraint_name", "constraint_type",
            "column_list")
      case "indexes" =>
        // MetaTable.java INDEXES (id 3): one row per indexed column
        indexes.values.toSeq.flatMap { ix =>
          ix.cols.zipWithIndex.map { case (c, i) =>
            (ix.table, ix.name, !ix.unique, i + 1, c, "BTREE")
          }
        }.toDF("table_name", "index_name", "non_unique", "ordinal_position",
          "column_name", "index_type")
      case "views" =>
        // MetaTable.java VIEWS (id 14)
        viewDefs.toSeq.map { case (n, sql) => ("graft", "public", n, sql) }
          .toDF("table_catalog", "table_schema", "table_name",
            "view_definition")
      case "function_aliases" =>
        // MetaTable.java FUNCTION_ALIASES (id 12); source aliases carry no
        // class/method target (FunctionAlias.loadFromSource compiles the
        // body — the reference lists them with the source, not a target)
        (aliases.toSeq.map { case (n, target) =>
          val dot = target.lastIndexOf('.')
          ("graft", "public", n, target.substring(0, dot max 0),
            target.substring(dot + 1))
        } ++ aliasSources.keys.toSeq.map(n => ("graft", "public", n, "", "")))
          .toDF("alias_catalog", "alias_schema", "alias_name", "java_class",
            "java_method")
      case "sessions" =>
        // MetaTable.java SESSIONS (id 25): single local session by contract
        Seq((0L, "SA", spark.sparkContext.applicationId))
          .toDF("id", "user_name", "session_start")
      case "users" =>
        // MetaTable.java USERS (id 9): the implicit admin + recorded DDL
        users.toSeq.map { case (n, a) => (n.toUpperCase, a) }
          .toDF("name", "admin")
      case "table_types" => // id 3
        Seq("SYSTEM TABLE", "TABLE", "VIEW").toDF("type")
      case "type_info" => // id 4: the types parseType accepts
        Seq(
          ("INT", java.sql.Types.INTEGER, 10), ("BIGINT", java.sql.Types.BIGINT, 19),
          ("SMALLINT", java.sql.Types.SMALLINT, 5), ("TINYINT", java.sql.Types.TINYINT, 3),
          ("DOUBLE", java.sql.Types.DOUBLE, 17), ("REAL", java.sql.Types.REAL, 7),
          ("DECIMAL", java.sql.Types.DECIMAL, 38), ("BOOLEAN", java.sql.Types.BOOLEAN, 1),
          ("DATE", java.sql.Types.DATE, 10), ("TIME", java.sql.Types.TIME, 8),
          ("TIMESTAMP", java.sql.Types.TIMESTAMP, 29),
          ("VARBINARY", java.sql.Types.VARBINARY, Int.MaxValue),
          ("VARCHAR", java.sql.Types.VARCHAR, Int.MaxValue))
          .toDF("type_name", "data_type", "precision")
      case "catalogs" => // id 5
        Seq("graft").toDF("catalog_name")
      case "help" => // id 7: reference ships help.csv; no embedded docs here
        Seq.empty[(Int, String, String, String)]
          .toDF("id", "section", "topic", "syntax")
      case "roles" => // id 10: created roles + COMMENT ON remarks
        roles.toSeq.map(r => (r.toUpperCase,
            comments.get(("ROLE", r))
              .getOrElse(if (r == "public") "system role" else null)))
          .toDF("name", "remarks")
      case "rights" => // id 11: recorded grants (enforcement out of scope)
        (rights.toSeq.map { case (g, p, o) =>
            (g, if (roles.contains(g)) "ROLE" else "USER", p, o) } ++
          roleGrants.toSeq.map { case (r, g) =>
            (g, if (roles.contains(g)) "ROLE" else "USER",
              s"ROLE ${r.toUpperCase}", "") })
          .toDF("grantee", "granteetype", "rights", "table_name")
      case "schemata" => // id 13
        schemas.toSeq.map(s => ("graft", s, "SA", "OFF")).toDF(
          "catalog_name", "schema_name", "schema_owner", "default_collation_name")
      case "table_privileges" => // id 14
        Seq.empty[(String, String, String, String)]
          .toDF("grantor", "grantee", "table_name", "privilege_type")
      case "column_privileges" => // id 15
        Seq.empty[(String, String, String, String)]
          .toDF("grantor", "grantee", "table_name", "column_name")
      case "collations" => // id 16: Spark 4 collation surface (q50 uses it)
        Seq(("OFF", "binary"), ("UTF8_BINARY", "binary"), ("UTF8_LCASE", "ci"))
          .toDF("name", "key")
      case "in_doubt" => // id 18: no 2PC transactions exist
        Seq.empty[(String, Int)].toDF("transaction_name", "transaction_state")
      case "cross_references" => // id 19: FK edges, one row per column pair
        foreignKeys.toSeq.flatMap { fk =>
          fk.refCols.zip(fk.cols).zipWithIndex.map { case ((pc, fc), i) =>
            (fk.refTable, pc, fk.table, fc, i + 1, fk.name)
          }
        }.toDF("pktable_name", "pkcolumn_name", "fktable_name",
          "fkcolumn_name", "ordinal_position", "fk_name")
      case "function_columns" => // id 21: alias parameters via reflection
        aliases.toSeq.flatMap { case (n, target) =>
          scala.util.Try {
            val dot = target.lastIndexOf('.')
            Class.forName(target.substring(0, dot)).getMethods
              .filter(m => m.getName == target.substring(dot + 1) &&
                java.lang.reflect.Modifier.isStatic(m.getModifiers))
              .sortBy(_.getParameterCount).headOption.toSeq
              .flatMap(m => m.getParameterTypes.zipWithIndex.map { case (p, i) =>
                (n, i + 1, p.getSimpleName.toUpperCase)
              })
          }.getOrElse(Seq.empty)
        }.toDF("alias_name", "pos", "type_name")
      case "constants" => // id 22
        constants.toSeq.map { case (n, v) => ("graft", "public", n, v) }
          .toDF("constant_catalog", "constant_schema", "constant_name", "sql")
      case "domains" => // id 23
        domains.toSeq.map { case (n, t) => (n, t.toUpperCase) }
          .toDF("domain_name", "type_name")
      case "triggers" => // id 24
        triggers.toSeq.map { case (n, (tbl, timing)) => (n, tbl, timing) }
          .toDF("trigger_name", "table_name", "timing")
      case "locks" => // id 26: a snapshot engine never holds row locks
        Seq.empty[(String, String, String)]
          .toDF("table_name", "session_id", "lock_type")
      case "session_state" => // id 27: statements that recreate this session
        (variables.toSeq.map { case (k, v) => (s"@$k", s"SET @$k = $v") } ++
         procedures.toSeq.map { case (k, v) => (k, s"PREPARE $k AS $v") })
          .toDF("key", "sql")
      case "query_statistics" => // id 28: live under SET QUERY_STATISTICS 1
        queryStats.toSeq.map { case (s, (n, mn, mx, cum)) =>
          (s, n, mn, mx, cum, cum / n) }
          .toDF("sql_statement", "execution_count", "min_execution_time",
            "max_execution_time", "cumulative_execution_time",
            "average_execution_time")
      case "databases" => // id 29
        databases.toSeq.toDF("database_name")
      case "models" => // graft extension: the trained-artifact registry
        // (core/ModelStore) under SET MODEL_REGISTRY '<root>' — empty
        // (same schema) when no registry is configured
        sessionSettings.get("MODEL_REGISTRY")
          .map(_.stripPrefix("'").stripSuffix("'"))
          .filter(_.nonEmpty)
          .map(root => graft.core.ModelStore.list(spark, root))
          .getOrElse(Seq.empty[(String, Int, String, Long, Long, Long, String)]
            .toDF("model_name", "version", "kind", "dim", "max_n",
              "fit_fingerprint", "path"))
      case other => throw new IllegalArgumentException(
        s"INFORMATION_SCHEMA.$other not supported")
    }
    df.createOrReplaceTempView(view)
    view
  }

  /** SCRIPT-style DDL dump (dml/Script.java): re-emittable CREATE TABLE +
    * sequence statements for the current catalog. Data itself snapshots to
    * parquet via `backup`. */
  def script(): Seq[String] = {
    val ddl = tables.toSeq.map { case (name, df) =>
      val cols = df.schema.fields
        .filterNot(f => rowidTables.contains(name) && f.name == "_rowid_")
        .map { f =>
          val pk = primaryKeys.get(name).exists(_.contains(f.name.toLowerCase))
          s"${f.name} ${f.dataType.sql}${if (pk) " PRIMARY KEY" else ""}"
        }
      val cg = tableCodegen.get(name).map { case (pkg, code) =>
        pkg.map(v => s" PACKAGE '$v'").getOrElse("") +
          code.map(v => s" GENERATE CODE '$v'").getOrElse("")
      }.getOrElse("")
      // storage prefix + ON COMMIT tail round-trip (Parser.java:3969-3987)
      val st = tableStorage.get(name).map(_ + " ").getOrElse("")
      val oc = onCommitActions.get(name).map(a => s" ON COMMIT $a").getOrElse("")
      s"CREATE ${st}TABLE $name (${cols.mkString(", ")})$oc$cg;"
    }
    val seqs = sequences.toSeq.map { case (n, s) =>
      s"CREATE SEQUENCE $n START WITH ${s.next} INCREMENT BY ${s.inc}" +
        s" MINVALUE ${s.minV} MAXVALUE ${s.maxV}" +
        (if (s.cycle) " CYCLE" else "") +
        (if (s.belongsToTable) " BELONGS_TO_TABLE" else "") + ";"
    }
    val ixs = indexes.values.toSeq.map { ix =>
      s"CREATE ${if (ix.unique) "UNIQUE " else ""}INDEX ${ix.name} " +
        s"ON ${ix.table} (${ix.cols.mkString(", ")});"
    }
    val cons = foreignKeys.toSeq.map { fk =>
      s"ALTER TABLE ${fk.table} ADD CONSTRAINT ${fk.name} FOREIGN KEY " +
        s"(${fk.cols.mkString(", ")}) REFERENCES ${fk.refTable} " +
        s"(${fk.refCols.mkString(", ")});"
    } ++ checks.toSeq.map { ck =>
      s"ALTER TABLE ${ck.table} ADD CONSTRAINT ${ck.name} CHECK (${ck.expr});"
    }
    val vws = viewDefs.toSeq.map { case (n, sql) =>
      s"CREATE VIEW $n AS $sql;"
    }
    val als = aliases.toSeq.map { case (n, t) =>
      s"""CREATE ALIAS $n FOR "$t";"""
    } ++ aliasSources.toSeq.map { case (n, src) =>
      // the single-quote string form round-trips ANY body ('' escaping);
      // $$…$$ would truncate on a body containing $$ itself
      s"CREATE ALIAS $n AS '${src.replace("'", "''")}';"
    } ++ userAggs.toSeq.map { case (n, cls) =>
      // FORCE: re-running the script must not need the class on the
      // driver classpath at parse time (UserAggregate.java force flag)
      s"""CREATE FORCE AGGREGATE $n FOR "$cls";"""
    }
    val consts = constants.toSeq.map { case (n, v) =>
      s"CREATE CONSTANT $n VALUE $v;"
    }
    val doms = domains.toSeq.map { case (n, t) =>
      s"CREATE DOMAIN $n AS ${t.toUpperCase};"
    }
    val svcs = services.values.toSeq.map { svc =>
      val ms = svc.methods.values.toSeq.sortBy(_.name).map { m =>
        val ps = m.params.map { case (pn, pt) => s"$pn $pt" }.mkString(", ")
        s"${m.name.toLowerCase}($ps) ${m.retType}"
      }.mkString(", ")
      s"CREATE SERVICE ${svc.name} ($ms)" +
        svc.packageName.map(p => s" PACKAGE '$p'").getOrElse("") +
        svc.implementBy.map(c => s" IMPLEMENT BY '$c'").getOrElse("") +
        svc.codePath.map(g => s" GENERATE CODE '$g'").getOrElse("") + ";"
    }
    val defs = colDefaults.toSeq.flatMap { case (t, ds) =>
      ds.toSeq.map { case (c, d) =>
        s"ALTER TABLE $t ALTER COLUMN $c SET DEFAULT $d;"
      }
    }
    val usrs = users.toSeq
      .filter(u => u._1 != "sa" && u._1 != "root") // the implicit admins
      .map { case (n, a) =>
        s"CREATE USER $n PASSWORD ''${if (a) " ADMIN" else ""};"
      }
    val rls = roles.toSeq.filter(_ != "public").map(r => s"CREATE ROLE $r;")
    val rgs = roleGrants.toSeq.map { case (r, g) => s"GRANT $r TO $g;" }
    val cmts = comments.toSeq.map { case ((t, n), c) =>
      s"COMMENT ON $t $n IS '${c.replace("'", "''")}';" }
    val dbs = databases.toSeq.filter(_ != "graft").map(d =>
      s"CREATE DATABASE $d;")
    // the trained-artifact registry binding survives a SCRIPT round trip
    // (the models themselves are parquet on disk, not DDL)
    val reg = sessionSettings.get("MODEL_REGISTRY").toSeq.map(v =>
      s"SET MODEL_REGISTRY ${if (v.startsWith("'")) v else s"'$v'"};")
    ddl ++ seqs ++ ixs ++ cons ++ defs ++ vws ++ als ++ consts ++ doms ++
      svcs ++ usrs ++ rls ++ rgs ++ cmts ++ dbs ++ reg
  }

  // ---- DDL helpers ----

  private[sqlfront] def renameTable(from: String, to: String): Unit = {
    val df = tables.remove(from).getOrElse(
      throw new IllegalArgumentException(s"no table $from"))
    spark.catalog.dropTempView(from)
    primaryKeys.remove(from).foreach(primaryKeys(to) = _)
    identityCols.remove(from).foreach(identityCols(to) = _)
    identityNext.remove(from).foreach(identityNext(to) = _)
    indexes.mapValuesInPlace((_, ix) =>
      if (ix.table == from) ix.copy(table = to) else ix)
    foreignKeys.indices.foreach { i =>
      val fk0 = foreignKeys(i)
      var fk = fk0
      if (fk.table == from) fk = fk.copy(table = to)
      if (fk.refTable == from) fk = fk.copy(refTable = to)
      if (fk ne fk0) foreignKeys(i) = fk
    }
    checks.indices.foreach { i =>
      if (checks(i).table == from) checks(i) = checks(i).copy(table = to)
    }
    notNullCols.remove(from).foreach(notNullCols(to) = _)
    colDefaults.remove(from).foreach(colDefaults(to) = _)
    tableStorage.remove(from).foreach(tableStorage(to) = _)
    onCommitActions.remove(from).foreach(onCommitActions(to) = _)
    tableCodegen.remove(from).foreach(tableCodegen(to) = _)
    pendingDml.remove(from).foreach(pendingDml(to) = _)
    register(to, df)
  }

}
