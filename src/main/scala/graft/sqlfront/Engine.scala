package graft.sqlfront

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Checkpoint
import graft.operators.Dml

/** H2-dialect SQL front door (SURVEY §4.3 "thin SQL front-door translator"
  * + §7 modules catalog/ and sqlfront/).
  *
  * The reference parses its dialect with a 5k-line recursive-descent parser
  * (lealone-sql Parser.java); Spark already has a full SQL parser, so this
  * layer only (a) keeps a mutable catalog of named DataFrames (the
  * Database→Schema→Table registry, Schema.java), (b) executes DDL/DML as
  * copy-on-write snapshot rewrites via [[graft.operators.Dml]], and
  * (c) rewrites the H2-only surface into Spark SQL before delegating to
  * `spark.sql`:
  *   - `FROM t SELECT …` FROM-first form (Parser.java:1397)
  *   - `SYSTEM_RANGE(a,b[,step])` (RangeTable.java)
  *   - `CSVREAD('file')` in FROM position (Function.java:352, Csv.java:46)
  *   - `ORDER BY =n` ordinal form (Parser.java:1493)
  *   - `SAMPLE_SIZE n` head-sample (Select.java:877 — head semantics, not
  *     random, matching the reference)
  *   - `MERGE INTO t [KEY(cols)] VALUES/SELECT` (Merge.java:35,146)
  *   - `UPDATE … LIMIT n` / `DELETE … LIMIT n` (Update.java:140-150)
  *   - sequences: CREATE SEQUENCE / NEXTVAL / CURRVAL (SequenceValue.java)
  *     — driver-side counters, documented as non-parallel id generation;
  *     INSERT…SELECT NEXTVAL assigns per row; at scale use
  *     monotonically_increasing_id instead
  *   - `TABLE(c T=ARRAY[…])` / TABLE_DISTINCT in FROM (TableFunction.java)
  *   - `CALL CSVWRITE('dir','sql')` (Csv.java:123)
  *   - ALTER TABLE add/drop/rename column, type change, rename table
  *     (ddl/AlterTable*.java); CREATE/DROP INDEX (recorded; unique
  *     validates); ADD CONSTRAINT FK/CHECK/UNIQUE/PK (validated on add and
  *     per insert batch); CREATE ALIAS by reflection
  *     (ddl/CreateFunctionAlias.java); CREATE CONSTANT/DOMAIN/TRIGGER/
  *     SCHEMA, GRANT/REVOKE (recorded), DROP ALL OBJECTS
  *   - all 30 INFORMATION_SCHEMA meta tables (MetaTable.java:77-107)
  *   - every textual rewrite is a token-pattern pass (Rw.rewrite) —
  *     string-literal safety is structural, not simulated
  *
  * Tables live as temp views so translated SQL sees them; every mutation
  * re-registers the view. Each table is a bounded version chain: one
  * materialized base plus at most `CompactEvery - 1` lazy DML versions
  * ([[commitDml]]). A frame returned by [[sql]] reads the table version
  * current when its statement ran; collect or cache it before later DML
  * compacts that table, after which it fails loudly instead of returning
  * rows.
  */
final class Engine(val spark: SparkSession)
    extends EngineTranslate with EngineSelect with EngineDdl
    with EngineStatements {

  private[sqlfront] val tables = mutable.LinkedHashMap.empty[String, DataFrame]
  private[sqlfront] val primaryKeys = mutable.HashMap.empty[String, Seq[String]]
  private[sqlfront] val identityCols = mutable.HashMap.empty[String, String]
  private[sqlfront] val identityNext = mutable.HashMap.empty[String, Long]
  private[sqlfront] val sequences = mutable.HashMap.empty[String, Sequence]

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

  private[sqlfront] val services = mutable.HashMap.empty[String, ServiceDef]

  /** CREATE TABLE model-codegen attributes (packageName, codePath) —
    * recorded + SCRIPT-re-emitted, never executed (see createTableRe). */
  private[sqlfront] val tableCodegen =
    mutable.HashMap.empty[String, (Option[String], Option[String])]

  /** CREATE-head storage modifiers per table (Parser.java:3969-3987):
    * "MEMORY" / "CACHED" / "[CACHED ]LOCAL TEMPORARY" / "GLOBAL TEMPORARY".
    * A storage-tier attribute this engine maps to Spark DataFrames
    * uniformly (everything is in-memory/parquet) — recorded for SCRIPT
    * re-emission, like tableCodegen. Not snapshotted in transactions
    * (cosmetic metadata, same policy as tableCodegen). */
  private[sqlfront] val tableStorage = mutable.HashMap.empty[String, String]

  /** ON COMMIT action per temp table (Parser.java parseCreateTable WITH
    * tail: ON COMMIT DROP | ON COMMIT DELETE ROWS) — applied when an
    * explicit COMMIT executes. Under autocommit the reference's per-
    * statement commit would drop the table immediately, so these tables
    * only make sense inside BEGIN…COMMIT, which is where we honor them. */
  private[sqlfront] val onCommitActions = mutable.HashMap.empty[String, String]
  private val serviceInstances = mutable.HashMap.empty[String, AnyRef]

  /** Dispatch one service call — the engine side of the reference's
    * EXECUTE_SERVICE_{NO_,WITH_}RETURN_VALUE('SERVICE.METHOD', json)
    * function pair (Function.java:951-965 → ServiceExecuterManager →
    * the generated executer): resolve SERVICE.METHOD (uppercase, the
    * manager's contract), unmarshal the JSON argument array against the
    * DECLARED parameter types, reflect-invoke the camelCased method on a
    * cached IMPLEMENT BY instance (SAY_GOODBYE_TO → sayGoodbyeTo, the
    * generator's name mapping), and return Some(stringified result) —
    * None for void methods or a null result (→ SQL NULL). Error texts
    * mirror the reference: "service X not found"
    * (ServiceExecuterManager.executeService) and "no method: M" (the
    * generated executer's default branch). Model-typed parameters (a
    * generated row class) are out of scope with the code generator;
    * scalar types cover the reference's live test surface. */
  private[sqlfront] def executeServiceCall(
      target: String, json: String): Option[String] = {
    val dot = target.indexOf('.')
    require(dot > 0, s"service method must be SERVICE.METHOD: $target")
    val sn = target.substring(0, dot).toUpperCase
    val mn = target.substring(dot + 1).toUpperCase
    val svc = services.getOrElse(sn,
      throw new IllegalArgumentException(s"service $sn not found"))
    val m = svc.methods.getOrElse(mn,
      throw new IllegalArgumentException(s"no method: $mn"))
    val impl = svc.implementBy.getOrElse(throw new IllegalArgumentException(
      s"service $sn has no IMPLEMENT BY class"))
    val inst = serviceInstances.getOrElseUpdate(sn,
      Class.forName(impl).getDeclaredConstructor().newInstance()
        .asInstanceOf[AnyRef])
    val camel = {
      val parts = mn.toLowerCase.split('_')
      parts.head + parts.tail.map(_.capitalize).mkString
    }
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.readTree(if (json == null || json.isEmpty) "[]" else json)
    require(arr.isArray, s"service arguments must be a JSON array: $json")
    require(arr.size == m.params.length,
      s"$sn.$mn expects ${m.params.length} arguments, got ${arr.size}")
    val args: Seq[AnyRef] = m.params.zipWithIndex.map { case ((_, tp), i) =>
      val v = arr.get(i)
      val base = tp.toUpperCase.takeWhile(c => c.isLetter || c == '_')
      base match {
        case "INT" | "INTEGER" => java.lang.Integer.valueOf(v.asInt())
        case "LONG" | "BIGINT" => java.lang.Long.valueOf(v.asLong())
        case "DOUBLE" | "FLOAT" => java.lang.Double.valueOf(v.asDouble())
        case "BOOLEAN" => java.lang.Boolean.valueOf(v.asBoolean())
        case "VARCHAR" | "CHAR" | "STRING" | "TEXT" =>
          if (v.isNull) null else v.asText()
        case _ => // model/other types: pass the raw JSON text through
          if (v.isNull) null else v.toString
      }
    }
    val method = inst.getClass.getMethods
      .find(mm => mm.getName == camel &&
        mm.getParameterCount == m.params.length)
      .getOrElse(throw new IllegalArgumentException(s"no method: $mn"))
    val r = method.invoke(inst, args: _*)
    if (m.retType.equalsIgnoreCase("void")) None
    else Option(r).map(_.toString)
  }

  /** Parse a CREATE SERVICE method list: `m1(p1 t1, p2 t2) ret, m2() void`
    * (CreateService.java's serviceMethod = a CreateTable-shaped column
    * list + return type). Names store UPPERCASE (the
    * ServiceExecuterManager registration contract); an absent return type
    * reads as void. */
  private[sqlfront] def parseServiceMethods(body: String): Seq[ServiceMethod] =
    Lex.splitTop(body).map(_.trim).filter(_.nonEmpty).map { entry =>
      val open = entry.indexOf('(')
      val close = entry.lastIndexOf(')')
      require(open > 0 && close > open,
        s"malformed service method: $entry")
      val nm = entry.substring(0, open).trim.toUpperCase
      val params = Lex.splitTop(entry.substring(open + 1, close))
        .map(_.trim).filter(_.nonEmpty).map { p =>
          val sp = p.indexOf(' ')
          require(sp > 0, s"service parameter needs `name type`: $p")
          (p.substring(0, sp).trim, p.substring(sp + 1).trim)
        }
      val ret = entry.substring(close + 1).trim
      ServiceMethod(nm, params, if (ret.isEmpty) "void" else ret)
    }

  /** Order-free CREATE SERVICE option tail: PACKAGE 's' / IMPLEMENT BY
    * 's' / GENERATE CODE 's' / COMMENT [IS] 's' — the parseSeqOptions
    * discipline (unknown trailing words fail loudly). Returns
    * (package, implementBy, codePath). */
  private[sqlfront] def parseServiceTail(
      frag0: String): (Option[String], Option[String], Option[String]) = {
    val frag = frag0.trim
    val ts = Lex.tokens(frag)
    var i = 0
    var pkg, impl, code: Option[String] = None
    def has: Boolean = i < ts.length
    def word: String =
      if (has && ts(i).kind == Lex.Word) ts(i).text(frag).toUpperCase else ""
    def readIf(w: String): Boolean = { if (word == w) { i += 1; true } else false }
    def readLit(): String = {
      require(has && ts(i).kind == Lex.Lit,
        s"expected a 'string' in service options at: " +
          frag.substring(if (has) ts(i).start else frag.length))
      val t = ts(i); i += 1
      frag.substring(t.start + 1, t.end - 1).replace("''", "'")
    }
    while (has) {
      if (readIf("PACKAGE")) pkg = Some(readLit())
      else if (readIf("IMPLEMENT")) {
        require(readIf("BY"), "IMPLEMENT requires BY (CreateService)")
        impl = Some(readLit())
      }
      else if (readIf("GENERATE")) {
        require(readIf("CODE"), "GENERATE requires CODE (CreateService)")
        code = Some(readLit())
      }
      else if (readIf("COMMENT")) { readIf("IS"); readLit() }
      else throw new IllegalArgumentException(
        s"unknown service option: ${frag.substring(ts(i).start)}")
    }
    (pkg, impl, code)
  }

  /** CREATE TABLE option tail: PACKAGE 's' / GENERATE CODE 's'
    * (CreateTable.java packageName/genCode) plus the storage-engine
    * clause `ENGINE name [WITH(params)]` (CreateTable.java
    * storageEngineName/storageEngineParams; StorageTest.java:26) — a
    * storage-layer attribute this engine maps to parquet/Spark, accepted
    * and ignored like CREATE DATABASE's RUN MODE. Also the temp-table
    * tail `ON COMMIT DROP | ON COMMIT DELETE ROWS` (returned as the
    * third element), `NOT PERSISTENT` (a durability attribute — every
    * table here is session-durable, accepted), and `HIDDEN`
    * (Parser.java:3995-4020 order; meta-visibility flag, accepted).
    * Anything else fails loudly — the strictness the pattern's former
    * Eos enforced. DELIBERATE LENIENCY: options are accepted in any
    * order (the reference reads them in one fixed sequence,
    * Parser.java:3995-4020) — every statement the reference accepts is
    * accepted here with identical meaning; the superset only admits
    * reorderings, never a different interpretation. */
  private[sqlfront] def parseTableTail(frag0: String)
      : (Option[String], Option[String], Option[String]) = {
    val frag = frag0.trim
    if (frag.isEmpty) return (None, None, None)
    val ts = Lex.tokens(frag)
    var i = 0
    var pkg, code, onCommit: Option[String] = None
    def has: Boolean = i < ts.length
    def word: String =
      if (has && ts(i).kind == Lex.Word) ts(i).text(frag).toUpperCase else ""
    def readIf(w: String): Boolean = { if (word == w) { i += 1; true } else false }
    def readLit(): String = {
      require(has && ts(i).kind == Lex.Lit,
        s"expected a 'string' in table options at: " +
          frag.substring(if (has) ts(i).start else frag.length))
      val t = ts(i); i += 1
      frag.substring(t.start + 1, t.end - 1).replace("''", "'")
    }
    while (has) {
      if (readIf("PACKAGE")) pkg = Some(readLit())
      else if (readIf("GENERATE")) {
        require(readIf("CODE"), "GENERATE requires CODE (CreateTable)")
        code = Some(readLit())
      }
      else if (readIf("ENGINE")) {
        // engine name: a bare word or a 'string' (Parser readIdentifier)
        require(has && (ts(i).kind == Lex.Word || ts(i).kind == Lex.Lit),
          "ENGINE requires a storage engine name (CreateTable)")
        i += 1
        if (readIf("WITH")) { // WITH(k=v, …) parameter list: skip the paren
          require(has && ts(i).kind == Lex.Sym && frag.charAt(ts(i).start) == '(',
            "ENGINE … WITH requires a (parameter list)")
          val d = ts(i).depth
          i += 1
          while (has && !(ts(i).kind == Lex.Sym &&
            frag.charAt(ts(i).start) == ')' && ts(i).depth == d)) i += 1
          require(has, "unbalanced ENGINE WITH(…) parameter list")
          i += 1
        }
      }
      else if (readIf("ON")) {
        require(readIf("COMMIT"), "ON requires COMMIT (CreateTable)")
        if (readIf("DROP")) onCommit = Some("DROP")
        else if (readIf("DELETE")) {
          require(readIf("ROWS"), "ON COMMIT DELETE requires ROWS")
          onCommit = Some("DELETE ROWS")
        } else throw new IllegalArgumentException(
          "ON COMMIT requires DROP or DELETE ROWS (CreateTable)")
      }
      else if (readIf("NOT")) {
        require(readIf("PERSISTENT"), "NOT requires PERSISTENT (CreateTable)")
      }
      else if (readIf("HIDDEN")) ()
      else throw new IllegalArgumentException(
        s"unknown CREATE TABLE option: ${frag.substring(ts(i).start)}")
    }
    (pkg, code, onCommit)
  }

  /** Java-API parity hook for the ONE reference test call no SQL replay
    * can express (SequenceTest.java:76 —
    * `schema.findSequence("myseq").setBelongsToTable(false)` flips engine
    * state mid-test so the subsequent DROP SEQUENCE succeeds): flip the
    * named sequence's table-ownership flag. Throws on a missing sequence,
    * as the reference's `findSequence(...)` chain would NPE. Used by the
    * faithful-replay harness (RefSqlFaithful), not by any SQL path. */
  def setSequenceBelongsToTable(name: String, flag: Boolean): Unit =
    sequences.getOrElse(name.toLowerCase,
        throw new NoSuchElementException(s"sequence not found: $name"))
      .belongsToTable = flag
  private[sqlfront] var rangeViewId = 0
  // _ROWID_ pseudo-column (StandardPrimaryIndex.java storage key;
  // PseudoColumnTest): tables with a single integral PRIMARY KEY map
  // _rowid_ onto that key (rowidPk); tables without one carry a REAL
  // hidden _rowid_ column (rowidTables) — engine-assigned max+1 values,
  // explicitly insertable, dropped from the registered view so star
  // expansion and positional INSERT never see it.
  private[sqlfront] val rowidPk = mutable.HashMap.empty[String, String]
  private[sqlfront] val rowidTables = mutable.HashSet.empty[String]
  private[sqlfront] val rowidNext = mutable.HashMap.empty[String, Long]

  // DDL surface recorded for INFORMATION_SCHEMA + validation
  // (ddl/CreateIndex.java, db/constraint/ConstraintReferential.java,
  // ConstraintCheck.java, ddl/CreateFunctionAlias.java, TableView.java)
  private[sqlfront] case class IndexDef(name: String, table: String, cols: Seq[String],
      unique: Boolean)
  private[sqlfront] case class FkDef(name: String, table: String, cols: Seq[String],
      refTable: String, refCols: Seq[String])
  private[sqlfront] case class CheckDef(name: String, table: String, expr: String)
  private[sqlfront] val indexes = mutable.LinkedHashMap.empty[String, IndexDef]
  private[sqlfront] val foreignKeys = mutable.ArrayBuffer.empty[FkDef]
  private[sqlfront] val checks = mutable.ArrayBuffer.empty[CheckDef]
  private[sqlfront] val viewDefs = mutable.LinkedHashMap.empty[String, String]
  private[sqlfront] val aliases = mutable.LinkedHashMap.empty[String, String]
  // CREATE ALIAS … AS $$source$$ (FunctionAlias.loadFromSource): name →
  // method source, compiled in-memory per JVM by SourceCompiler
  private[sqlfront] val aliasSources = mutable.LinkedHashMap.empty[String, String]
  // CREATE AGGREGATE name FOR "class" (db/UserAggregate.java): name →
  // user class; call sites rewrite to the collect_list-fed finisher UDF
  private[sqlfront] val userAggs = mutable.LinkedHashMap.empty[String, String]
  // CREATE CONSTANT (schema/Constant.java), CREATE DOMAIN
  // (ddl/CreateUserDataType.java), CREATE TRIGGER (recorded; row-hook
  // execution is out of engine scope per BASELINE — the streaming
  // foreachBatch hook is the batch twin)
  private[sqlfront] val constants = mutable.LinkedHashMap.empty[String, String]
  private[sqlfront] val domains = mutable.LinkedHashMap.empty[String, String]
  private[sqlfront] val triggers = mutable.LinkedHashMap.empty[String, (String, String)]
  // Registered row-hook implementations — the batch twin of the reference's
  // api/Trigger.java fire(conn, oldRow, newRow), invoked at the statement
  // sites where the reference fires per row (Insert.java:130,157-161,
  // Update.java, Delete.java). The reference binds a Java class by
  // reflection (CREATE TRIGGER … CALL "cls"); in zero-reflection Spark the
  // implementation registers programmatically and the recorded DDL binds it
  // by trigger name. Signature: (event, oldRows, newRows) — row DELTAS as
  // DataFrames (empty for the missing side), so a hook observes exactly
  // what the reference's per-row calls would, batched.
  private[sqlfront] val triggerImpls =
    mutable.HashMap.empty[String, (String, DataFrame, DataFrame) => Unit]

  /** Bind an implementation to a recorded `CREATE TRIGGER` by name. */
  def registerTriggerImpl(name: String,
      impl: (String, DataFrame, DataFrame) => Unit): Unit =
    triggerImpls(name.toLowerCase) = impl

  /** Fire the table's registered triggers for `event` at `phase`
    * (BEFORE | AFTER). Returns true if an INSTEAD OF trigger fired —
    * the caller then suppresses the operation, the batch analogue of
    * fireBeforeRow returning done=true (Insert.java:157-161). */
  private[sqlfront] def fireTriggers(tn: String, event: String, phase: String,
      oldRows: DataFrame, newRows: DataFrame): Boolean = {
    var insteadOf = false
    triggers.foreach { case (n, (tbl, timing)) =>
      val up = timing.toUpperCase
      val ph = if (up.startsWith("INSTEAD OF")) "INSTEAD OF"
        else if (up.startsWith("BEFORE")) "BEFORE" else "AFTER"
      val phaseHit = ph == phase || (ph == "INSTEAD OF" && phase == "BEFORE")
      if (tbl == tn && up.contains(event) && phaseHit)
        triggerImpls.get(n).foreach { impl =>
          firing += 1
          try impl(event, oldRows, newRows) finally firing -= 1
          if (ph == "INSTEAD OF") insteadOf = true
        }
    }
    insteadOf
  }

  // session last-identity / last-sequence values (IDENTITY()/SCOPE_IDENTITY()
  // and LASTVAL() — Function.java session functions)
  private[sqlfront] var lastIdentity: Option[Long] = None
  private[sqlfront] var lastSeqVal: Option[Long] = None

  /** Full reference sequence semantics (schema/Sequence.java): MINVALUE /
    * MAXVALUE default per Sequence.java:146-160, bound check + CYCLE wrap
    * or SEQUENCE_EXHAUSTED per Sequence.java:239-247, attribute validation
    * per Sequence.java:137-144, BELONGS_TO_TABLE drop guard enforced at
    * the DROP SEQUENCE dispatch. CACHE sizes are accepted and ignored
    * (a persistence-flush margin; no disk here). */
  private[sqlfront] final class Sequence(var next: Long, var inc: Long,
      minOpt: Option[Long] = None, maxOpt: Option[Long] = None,
      var cycle: Boolean = false, var belongsToTable: Boolean = false) {
    var minV: Long = minOpt.getOrElse(defaultMin)
    var maxV: Long = maxOpt.getOrElse(defaultMax)
    private def defaultMin: Long =
      if (inc >= 0) math.min(1L, next) else Long.MinValue
    private def defaultMax: Long =
      if (inc >= 0) Long.MaxValue else math.max(-1L, next)
    validate()
    def validate(): Unit =
      require(minV <= next && next <= maxV && maxV > minV && inc != 0 &&
          (BigInt(inc).abs < BigInt(maxV) - BigInt(minV)),
        s"SEQUENCE_ATTRIBUTES_INVALID value=$next min=$minV max=$maxV increment=$inc (Sequence.java:137)")
    var curr: Long = next - inc
    def nextVal(): Long = {
      if ((inc > 0 && next > maxV) || (inc < 0 && next < minV)) {
        if (cycle) next = if (inc > 0) minV else maxV
        else throw new IllegalStateException(
          s"SEQUENCE_EXHAUSTED (Sequence.java:246)")
      }
      curr = next; next += inc; lastSeqVal = Some(curr); curr
    }
    /** Bulk advance after a per-row multi-occurrence fill (SequenceValue
      * semantics: every evaluation increments). The arithmetic fill cannot
      * express a CYCLE wrap, so crossing a bound fails loudly either way. */
    def advance(n: Long): Unit =
      if (n > 0) {
        val end = next + (n - 1) * inc
        if ((inc > 0 && end > maxV) || (inc < 0 && end < minV))
          throw new IllegalStateException(
            if (cycle) "bulk INSERT…SELECT NEXTVAL cannot CYCLE-wrap mid-fill; use single-row inserts"
            else "SEQUENCE_EXHAUSTED (Sequence.java:246)")
        next += n * inc; curr = next - inc
      }
  }

  graft.functions.H2Functions.registerAll(spark)
  graft.functions.Aggregators.registerAll(spark)

  def register(name: String, df: DataFrame): Unit = {
    val n = name.toLowerCase
    tables(n) = df
    // hidden _rowid_ never reaches the public view: star expansion and
    // positional INSERT see the declared columns only (runSelect swaps the
    // full frame in for statements that reference _rowid_ explicitly)
    val v = if (rowidTables.contains(n) && df.columns.contains("_rowid_"))
      df.drop("_rowid_") else df
    v.createOrReplaceTempView(n)
  }

  def table(name: String): DataFrame = tables(name.toLowerCase)

  /** The DML statement that compacts a table's version chain: the 9
    * statements before it stay lazy rewrites of the base. Fewer lazy
    * versions make reads cheaper and writes dearer; on the statement-stream
    * benchmark 10 kept most of the read gain of 3 and 6 at the lowest
    * write latency (CHANGES.md). */
  private[sqlfront] val CompactEvery = 10

  /** Lazy DML versions over each table's base (see [[commitDml]]). */
  private[sqlfront] val pendingDml = mutable.HashMap.empty[String, Int]

  /** Bases [[commitDml]] cut and has not released yet. */
  private[sqlfront] val cuts = mutable.ArrayBuffer.empty[DataFrame]

  /** The one commit point of INSERT, MERGE, UPDATE, DELETE and upsert
    * (and of the DSL's `Model`, through [[commitVersion]]).
    * Register the statement's new table version as a lazy rewrite of the
    * previous one, unless it is the table's `CompactEvery`th pending
    * version or its rows hold a nondeterministic or current-time
    * expression: then materialize it as the table's new base (narrow
    * coalesce, so the partition count never grows with the inserts). A
    * volatile version is fixed at once, so its values are those of the
    * statement's run and do not change from read to read. The superseded
    * base is released when the statement is done ([[releaseUnheld]]). */
  private[sqlfront] def commitDml(name: String, df: DataFrame): Unit = {
    val n = name.toLowerCase
    val depth = pendingDml.getOrElse(n, 0) + 1
    if (depth < CompactEvery && !volatile(df)) {
      register(n, df)
      pendingDml(n) = depth
    } else {
      val base = Checkpoint.cut(df.coalesce(spark.sparkContext.defaultParallelism))
      register(n, base)
      pendingDml(n) = 0
      cuts += base
    }
  }

  private def volatile(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectWithSubqueries { case p => p }
      .exists(p => !p.deterministic || p.containsPattern(
        org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE))

  /** Release the bases that no registered frame reads: neither a table or
    * view of the catalog nor one held by the transaction snapshot or a
    * savepoint. Runs at the end of every statement: after a compaction
    * (once the statement's AFTER triggers have read the version it
    * superseded), and after COMMIT, ROLLBACK, RELEASE, BEGIN or a DROP
    * dropped a holder. A statement a trigger runs leaves the release to
    * the statement that fired the trigger. */
  private def releaseUnheld(): Unit = if (cuts.nonEmpty && firing == 0) {
    val holders = tables.values.toSeq ++
      (txn.toSeq ++ savepointMap.values).flatMap(_.tables.map(_._2))
    cuts.filterInPlace(c => !Checkpoint.release(c, holders))
  }

  /** Trigger implementations running now (see [[fireTriggers]]). */
  private var firing = 0

  /** Whether CREATE INDEX also applies [[bucket]] on the indexed key —
    * toggled by `SET BUCKETED_INDEXES 1` (graft extension, default off). */
  private[sqlfront] var bucketedIndexes: Boolean = false

  /** First-class co-located layout for a registered table: materialize its
    * CURRENT rows as a managed Spark table bucketed (and per-bucket
    * sorted) on `keys`, and re-register the table to read from that
    * layout. Every subsequent equi-join on a prefix of `keys` between two
    * tables bucketed with the same count plans with ZERO shuffle exchange
    * on the bucketed side(s) — the Spark-native physical half of the
    * reference's secondary index (ddl/CreateIndex.java →
    * StandardSecondaryIndex.java:36: key-ordered locality at write time).
    *
    * Write-amortization contract (README "Bucketed layouts"): the ONE
    * bucketed write is paid here, up front; it amortizes over every later
    * join/aggregation on the key. The layout is a SNAPSHOT — later DML on
    * the table re-registers a plain in-memory frame (correct results,
    * locality gone); re-run bucket() after bulk loads. Reached from SQL
    * via `SET BUCKETED_INDEXES 1` + `CREATE INDEX ON t(key)`. */
  def bucket(tableName: String, keys: Seq[String], buckets: Int = 32): Unit = {
    val tn = tableName.toLowerCase
    require(tables.contains(tn), s"TABLE_NOT_FOUND: $tableName")
    require(keys.nonEmpty, "bucketing needs at least one key column")
    // EPOCHED name, never reused: a re-bucket of the same (table, keys)
    // must WRITE BEFORE DROPPING — the table's current registration may
    // read from the previous snapshot, so deleting it first (the
    // loadBucketed purge discipline) would have the write scan its own
    // just-deleted source. The engine-instance tag keeps two engines
    // sharing one SparkSession from clobbering each other's snapshots.
    bucketEpoch += 1
    val t = s"graft_engine_bkt_${engineTag}_${tn}_" +
      s"${keys.mkString("_")}_${buckets}_e$bucketEpoch"
    // stale location from a dead session with the same (random) tag is
    // practically impossible, but the purge stays cheap and harmless
    val loc = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
    if (loc.exists()) {
      import scala.reflect.io.Directory
      new Directory(loc).deleteRecursively()
    }
    table(tn).write.bucketBy(buckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*).mode("overwrite").saveAsTable(t)
    register(tn, spark.table(t))
    // the previous epoch's snapshot (if any) is no longer referenced
    bucketTables.remove(tn).foreach(old => spark.sql(s"DROP TABLE IF EXISTS $old"))
    bucketTables(tn) = t
  }

  private val engineTag =
    java.lang.Long.toHexString(System.nanoTime() ^ System.identityHashCode(this))
  private var bucketEpoch = 0
  /** Live bucketed-snapshot table per engine table (previous epochs drop). */
  private val bucketTables = mutable.Map.empty[String, String]

  /** Programmatic insert for the ORM DAO executors (Model.insert) — same
    * path as SQL INSERT: align, identity/sequence fill, constraints. */
  def insertFrom(tableName: String, cols: Option[Seq[String]],
      src: DataFrame): Unit =
    try doInsert(tableName, cols.map(_.mkString(",")), src)
    finally releaseUnheld()
  /** Commit `df` as the next DML version of table `name`, as a DML
    * statement does ([[commitDml]]), and release superseded bases. For
    * writers that build the version themselves (the DSL's `Model`). */
  def commitVersion(name: String, df: DataFrame): Unit =
    try commitDml(name, df) finally releaseUnheld()
  def tableNames: Seq[String] = tables.keys.toSeq
  def mode: String = compatibilityMode

  /** Execute one or more ';'-separated statements; returns the DataFrame of
    * the last query (or an empty status frame for DDL/DML). */
  def sql(text: String): DataFrame =
    splitStatements(Lex.normalizeBackquotes(
        Lex.normalizeDollarQuotes(Lex.stripComments(text))))
      .map(s => try execTimed(s) finally releaseUnheld()).lastOption
      .getOrElse(spark.emptyDataFrame)

  // ---- SET QUERY_STATISTICS (dml/Set.java; QueryStatisticsTest):
  // per-statement wall-time accounting into the QUERY_STATISTICS meta
  // view while enabled. Entry count is bounded by
  // QUERY_STATISTICS_MAX_ENTRIES (new statements beyond the cap are not
  // tracked); disabling clears collected data, as the reference does.
  // (count, min ms, max ms, cumulative ms)
  private[sqlfront] val queryStats =
    mutable.LinkedHashMap.empty[String, (Long, Double, Double, Double)]
  private[sqlfront] def statsEnabled = sessionSettings.get("QUERY_STATISTICS")
    .exists(v => v == "1" || v.equalsIgnoreCase("TRUE"))
  private[sqlfront] def execTimed(stmt: String): DataFrame = {
    if (!statsEnabled) return execOne(stmt)
    val t0 = System.nanoTime()
    try execOne(stmt)
    finally if (statsEnabled) { // the disabling SET must not re-record itself
      val ms = (System.nanoTime() - t0) / 1e6
      val key = stmt.trim
      val cap = sessionSettings.get("QUERY_STATISTICS_MAX_ENTRIES")
        .flatMap(_.toIntOption).getOrElse(100)
      queryStats.get(key) match {
        case Some((n, mn, mx, cum)) =>
          queryStats(key) = (n + 1, math.min(mn, ms), math.max(mx, ms), cum + ms)
        case None if queryStats.size < cap =>
          queryStats(key) = (1L, ms, ms, ms)
        case None =>
      }
    }
  }

  // ------------------------------------------------------------------
  /** Statement split on `;` — tokenizer-first (Lex): a semicolon inside a
    * 'string literal' (with '' escapes), a "quoted identifier", or a
    * comment (line or block — Lex skips both) never splits; the char-loop
    * predecessor was literal-aware but identifier- and comment-blind.
    * Segments re-slice the raw text, preserving every byte. */
  private[sqlfront] def splitStatements(text: String): Seq[String] = {
    val cuts = Lex.tokens(text).iterator
      .filter(t => t.kind == Lex.Sym && text.charAt(t.start) == ';')
      .map(_.start).toSeq
    val out = mutable.ArrayBuffer.empty[String]
    var last = 0
    cuts.foreach { c => out += text.substring(last, c); last = c + 1 }
    out += text.substring(last)
    out.filter(_.trim.nonEmpty).toSeq
  }

  private[sqlfront] var compatibilityMode: String = "REGULAR"

  /** Compatibility-mode feature flags (db/Mode.java:34-141). The reference
    * ships exactly three modes — REGULAR, MySQL, PostgreSQL — each enabling
    * a fixed flag set (Mode.java:143-166); unknown names keep REGULAR
    * semantics (plus the MSSQL bracket-identifier extension handled in
    * translate). aliasColumnName holds natively (Spark returns the alias as
    * the column name); lowerCaseIdentifiers folds result column names in
    * runSelect (catalog names are lowercased in every mode). */
  private[sqlfront] case class ModeFlags(
      convertInsertNullToZero: Boolean = false,
      indexDefinitionInCreateTable: Boolean = false,
      onDuplicateKeyUpdate: Boolean = false,
      logIsLogBase10: Boolean = false,
      serialColumnIsNotPK: Boolean = false,
      nullConcatIsNull: Boolean = true,
      lowerCaseIdentifiers: Boolean = false,
      systemColumns: Boolean = false,
      zeroDateToNull: Boolean = false)
  private[sqlfront] def modeFlags: ModeFlags = compatibilityMode match {
    case "MYSQL" => ModeFlags(convertInsertNullToZero = true,
      indexDefinitionInCreateTable = true, onDuplicateKeyUpdate = true,
      nullConcatIsNull = false, lowerCaseIdentifiers = true,
      zeroDateToNull = true)
    case "POSTGRESQL" => ModeFlags(logIsLogBase10 = true,
      serialColumnIsNotPK = true, systemColumns = true)
    case _ => ModeFlags(indexDefinitionInCreateTable = true)
  }
  // NOT NULL columns per table (Column.java nullable) — drives MySQL-mode
  // convertInsertNullToZero and SHOW COLUMNS
  private[sqlfront] val notNullCols = mutable.HashMap.empty[String, Set[String]]
  // column DEFAULT / computed-AS expressions (Column.java defaultExpression):
  // applied when an insert omits the column or writes the DEFAULT keyword
  private[sqlfront] val colDefaults =
    mutable.HashMap.empty[String, mutable.LinkedHashMap[String, String]]
  // SET REFERENTIAL_INTEGRITY toggle (AlterTableSet.java): FALSE suspends
  // FK validation (bulk-load pattern), TRUE [CHECK] revalidates
  private[sqlfront] var refIntegrity = true

  // ---- transactions (TransactionStatement, Parser.java:560-650) ----
  // A transaction is a snapshot of the catalog: every table version is an
  // immutable DataFrame and every mutation registers a new one, so BEGIN
  // captures the maps (with each table's pending-version count) and
  // ROLLBACK restores them — real single-session snapshot semantics, the
  // 1-session degenerate case of the reference's MVCC read view. A version
  // a snapshot holds keeps its base's blocks alive across later
  // compactions; they are released once COMMIT, ROLLBACK, RELEASE or a
  // new BEGIN drops the snapshot (releaseUnheld). Sequences and IDENTITY
  // counters are deliberately NOT rolled back (H2/reference semantics:
  // Sequence values survive rollback). DDL is covered by the snapshot too —
  // an extension; the reference auto-commits around DDL.
  private[sqlfront] case class CatalogSnapshot(
      tables: Seq[(String, DataFrame)],
      primaryKeys: Map[String, Seq[String]],
      identityCols: Map[String, String],
      indexes: Seq[(String, IndexDef)],
      foreignKeys: Seq[FkDef],
      checks: Seq[CheckDef],
      viewDefs: Seq[(String, String)],
      constants: Seq[(String, String)],
      domains: Seq[(String, String)],
      triggers: Seq[(String, (String, String))],
      schemas: Seq[String],
      rights: Seq[(String, String, String)],
      notNullCols: Map[String, Set[String]],
      colDefaults: Seq[(String, Seq[(String, String)])],
      pendingDml: Map[String, Int])
  private[sqlfront] var txn: Option[CatalogSnapshot] = None
  private[sqlfront] val savepointMap = mutable.LinkedHashMap.empty[String, CatalogSnapshot]
  private[sqlfront] var autocommit = true
  // recorded session options (dml/Set.java SetTypes) → SETTINGS meta view
  private[sqlfront] val sessionSettings = mutable.LinkedHashMap.empty[String, String]

  private[sqlfront] def snapshot(): CatalogSnapshot = CatalogSnapshot(
    tables.toSeq, primaryKeys.toMap, identityCols.toMap, indexes.toSeq,
    foreignKeys.toSeq, checks.toSeq, viewDefs.toSeq, constants.toSeq,
    domains.toSeq, triggers.toSeq, schemas.toSeq, rights.toSeq,
    notNullCols.toMap, colDefaults.toSeq.map { case (t, m) => (t, m.toSeq) },
    pendingDml.toMap)

  private[sqlfront] def restore(s: CatalogSnapshot): Unit = {
    val restored = s.tables.map(_._1).toSet
    tables.keys.filterNot(restored).toSeq.foreach(spark.catalog.dropTempView)
    tables.clear(); tables ++= s.tables
    s.tables.foreach { case (n, df) => register(n, df) } // keeps _rowid_ hidden
    primaryKeys.clear(); primaryKeys ++= s.primaryKeys
    identityCols.clear(); identityCols ++= s.identityCols
    indexes.clear(); indexes ++= s.indexes
    foreignKeys.clear(); foreignKeys ++= s.foreignKeys
    checks.clear(); checks ++= s.checks
    viewDefs.clear(); viewDefs ++= s.viewDefs
    constants.clear(); constants ++= s.constants
    domains.clear(); domains ++= s.domains
    triggers.clear(); triggers ++= s.triggers
    schemas.clear(); schemas ++= s.schemas
    rights.clear(); rights ++= s.rights
    notNullCols.clear(); notNullCols ++= s.notNullCols
    colDefaults.clear()
    s.colDefaults.foreach { case (t, ds) =>
      colDefaults(t) = mutable.LinkedHashMap(ds: _*)
    }
    pendingDml.clear(); pendingDml ++= s.pendingDml
  }

  /** Normalize the CREATE-statement head (Parser.java:367-369 + 3969-3987):
    * `DECLARE …` is an alias for CREATE ("support for DECLARE GLOBAL
    * TEMPORARY TABLE"), and the [MEMORY|CACHED] [LOCAL|GLOBAL]
    * [TEMP|TEMPORARY] storage prefixes on TABLE are recorded
    * ([[tableStorage]], SCRIPT re-emission) and stripped — the storage
    * tier is a physical attribute this engine maps to Spark uniformly.
    * Bare TEMP/TEMPORARY reads as GLOBAL TEMPORARY (Parser.java:3984-3986
    * passes globalTemp=true). */
  private[sqlfront] def normalizeCreateHead(stmt: String): String = {
    pendingStorage = None // a prior statement's stage dies with it
    val ts = Lex.tokens(stmt)
    def word(i: Int): String =
      if (i < ts.length && ts(i).kind == Lex.Word) ts(i).text(stmt).toUpperCase
      else ""
    val head = word(0)
    if (head != "CREATE" && head != "DECLARE") return stmt
    var i = 1
    var mem = "" // MEMORY | CACHED | ""
    var tmp = "" // LOCAL TEMPORARY | GLOBAL TEMPORARY | ""
    if (word(i) == "MEMORY" || word(i) == "CACHED") { mem = word(i); i += 1 }
    if (word(i) == "LOCAL" || word(i) == "GLOBAL") {
      if (word(i + 1) == "TEMPORARY") { tmp = s"${word(i)} TEMPORARY"; i += 2 }
    } else if (word(i) == "TEMP" || word(i) == "TEMPORARY") {
      tmp = "GLOBAL TEMPORARY"; i += 1
    }
    if (word(i) != "TABLE") // DECLARE of any other create → CREATE (367-369)
      return if (head == "DECLARE" && ts.length > 1)
        "CREATE " + stmt.substring(ts(1).start)
      else stmt
    var j = i + 1
    if (word(j) == "IF" && word(j + 1) == "NOT" && word(j + 2) == "EXISTS")
      j += 3
    val tn =
      if (j < ts.length) ts(j).text(stmt).stripPrefix("\"").stripSuffix("\"")
        .toLowerCase
      else ""
    // EVERY create-table head clears stale DDL-tail metadata first: a
    // prefixed / codegen-tailed create that died with a ROLLBACK (these
    // maps are not snapshotted) must not leak its attributes onto a later
    // plain CREATE TABLE of the same name via SCRIPT
    if (tn.nonEmpty && !tables.contains(tn)) {
      tableStorage.remove(tn); onCommitActions.remove(tn)
      tableCodegen.remove(tn)
    }
    if (head == "CREATE" && mem.isEmpty && tmp.isEmpty) return stmt
    val prefix = Seq(mem, tmp).filter(_.nonEmpty).mkString(" ")
    // staged, not recorded: a FAILED create (duplicate table, bad column
    // defs) must not leave the prefix behind for SCRIPT to re-emit onto
    // the surviving table — the createTable case commits it on success
    if (tn.nonEmpty && prefix.nonEmpty) pendingStorage = Some(tn -> prefix)
    "CREATE " + stmt.substring(ts(i).start)
  }

  /** Built-in type names (DataType.java:164-261): the FIRST name of each
    * family is NON-HIDDEN — never creatable as a user data type, even
    * under IF NOT EXISTS (CreateUserDataType.java:66-68); the remaining
    * ALIASES are HIDDEN — shadowable, but only while no user table
    * exists (CreateUserDataType.java:69-74; UserDataTypeTest pins
    * `CREATE DATATYPE IF NOT EXISTS int` succeeding and `… integer`
    * throwing). */
  private val builtinTypeNames: Set[String] = Set(
    "NULL", "VARCHAR", "LONGVARCHAR", "CHAR", "VARCHAR_IGNORECASE",
    "BOOLEAN", "TINYINT", "SMALLINT", "INTEGER", "SERIAL", "BIGINT",
    "IDENTITY", "DECIMAL", "NUMERIC", "REAL", "DOUBLE", "FLOAT", "TIME",
    "DATE", "TIMESTAMP", "VARBINARY", "BINARY", "LONGVARBINARY", "UUID",
    "OTHER", "BLOB", "CLOB", "ARRAY", "RESULT_SET")

  private val hiddenTypeNames: Set[String] = Set(
    "VARCHAR2", "NVARCHAR", "NVARCHAR2", "VARCHAR_CASESENSITIVE",
    "LONGNVARCHAR", "CHARACTER", "NCHAR", "BIT", "BOOL", "YEAR", "INT2",
    "INT", "MEDIUMINT", "INT4", "SIGNED", "INT8", "LONG", "BIGSERIAL",
    "DEC", "NUMBER", "FLOAT4", "DOUBLE PRECISION", "FLOAT8", "DATETIME",
    "SMALLDATETIME", "RAW", "BYTEA", "OBJECT", "JAVA_OBJECT", "TINYBLOB",
    "MEDIUMBLOB", "LONGBLOB", "IMAGE", "OID", "TINYTEXT", "TEXT",
    "MEDIUMTEXT", "LONGTEXT", "NTEXT", "NCLOB")

  /** Storage prefix staged by [[normalizeCreateHead]] for the CREATE in
    * flight; committed to [[tableStorage]] by [[commitPendingStorage]]
    * only after the create succeeds (and discarded at the next
    * statement's head-normalization either way). */
  private[sqlfront] var pendingStorage: Option[(String, String)] = None

  private[sqlfront] def commitPendingStorage(tn: String): Unit = {
    pendingStorage.filter(_._1 == tn)
      .foreach { case (t, p) => tableStorage(t) = p }
    pendingStorage = None
  }

  /** Record an ON COMMIT action — the reference only parses the clause on
    * temp tables (Parser.java reads it inside the temp branch). */
  private[sqlfront] def registerOnCommit(tn: String, action: String): Unit = {
    require(pendingStorage.collect { case (`tn`, p) => p }
        .orElse(tableStorage.get(tn)).exists(_.contains("TEMPORARY")),
      s"ON COMMIT is only valid on a TEMPORARY table (Parser.java): $tn")
    onCommitActions(tn) = action
  }

  /** Apply ON COMMIT DROP / DELETE ROWS at an explicit COMMIT. DROP
    * removes the table (and its action); DELETE ROWS truncates and stays
    * armed for the next commit — Table.java onCommitDrop/onCommitTruncate. */
  private[sqlfront] def applyOnCommit(): Unit =
    onCommitActions.toSeq.foreach { case (tn, act) =>
      if (!tables.contains(tn)) onCommitActions.remove(tn)
      else if (act == "DROP") { dropOneTable(tn); onCommitActions.remove(tn) }
      else register(tn, graft.operators.Dml.truncate(table(tn)))
    }

  private[sqlfront] def execOne(stmt0: String): DataFrame = {
    val stmt = normalizeCreateHead(stmt0.trim)
    Stmt(stmt) match {
      case explainAnalyzeRe(q) =>
        // EXPLAIN ANALYZE (Explain.java setExecuteCommand): execute, then
        // return the executed physical plan (AQE-final, with codegen ids)
        import spark.implicits._
        val df = runSelect(q)
        df.count()
        Seq(df.queryExecution.executedPlan.toString).toDF("plan")
      case explainRe(q) =>
        // EXPLAIN [PLAN FOR] … (dml/Explain.java:30, Select.getPlanSQL).
        // The reference explains ANY statement without executing it; for
        // DML the plan is the statement's normalized SQL (getPlanSQL), so
        // the DML arms return the translated statement text unexecuted.
        import spark.implicits._
        val lead = Lex.tokens(q).headOption.map(_.text(q).toUpperCase)
        if (lead.exists(Set("INSERT", "UPDATE", "DELETE", "MERGE", "TRUNCATE")))
          Seq(q.trim).toDF("plan")
        else {
          val df = runSelect(q)
          Seq(df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExtendedMode)).toDF("plan")
        }
      case analyzeRe() => status()
      case setVarRe(name, value) =>
        // SET @v = expr (Variable.java:20); substituted at plan time
        variables(name.toLowerCase) =
          spark.sql(s"SELECT ${substSequences(substConstants(value))}").head().get(0) match {
            case s: String => s"'${s.replace("'", "''")}'"
            case v => String.valueOf(v)
          }
        status()
      case scriptRe() =>
        // SCRIPT (dml/Script.java): DDL re-emission as a result set
        import spark.implicits._
        script().toDF("script")
      case backupRe(path) =>
        backup(path.stripSuffix(".zip")); status()
      case shutdownRe() => status()
      case runScriptRe(path) =>
        // RUNSCRIPT FROM 'file' (dml/RunScript.java)
        sql(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8))
      case setModeRe(mode) =>
        // compatibility modes MySQL/PostgreSQL/… (db/Mode.java:17): recorded;
        // coercion differences are handled by ANSI-off session conf
        compatibilityMode = mode.toUpperCase; status()
      case beginRe() =>
        txn = Some(snapshot()); savepointMap.clear(); status()
      case commitRe() =>
        applyOnCommit()
        txn = if (autocommit) None else Some(snapshot())
        savepointMap.clear(); status()
      case rollbackToRe(name) =>
        val sp = savepointMap.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"savepoint $name not found"))
        restore(sp)
        // later savepoints die with the rollback (standard semantics)
        val keys = savepointMap.keys.toSeq
        keys.drop(keys.indexOf(name.toLowerCase) + 1).foreach(savepointMap.remove)
        status()
      case rollbackRe() =>
        txn.foreach(restore)
        txn = if (autocommit) None else Some(snapshot())
        savepointMap.clear(); status()
      case savepointStmtRe(name) =>
        savepointMap(name.toLowerCase) = snapshot(); status()
      case releaseSavepointRe(name) =>
        savepointMap.remove(name.toLowerCase); status()
      case setAutocommitRe(v) =>
        val on = Set("ON", "TRUE", "1")(v.toUpperCase)
        if (!on && autocommit) { autocommit = false; txn = Some(snapshot()) }
        else if (on && !autocommit) {
          autocommit = true; txn = None; savepointMap.clear()
        }
        status()
      case setRefIntRe(v) =>
        refIntegrity = v.equalsIgnoreCase("TRUE"); status()
      case prepareRe(name, body) =>
        // PREPARE/EXECUTE/DEALLOCATE procedures (ddl/PrepareProcedure.java,
        // dml/ExecuteProcedure.java): named parameterized saved queries;
        // `?` placeholders substitute positionally at EXECUTE.
        procedures(name.toLowerCase) = body; status()
      case executeRe(name, args) =>
        val body0 = procedures.getOrElse(name.toLowerCase,
          throw new IllegalArgumentException(s"no prepared statement $name"))
        var body = body0
        // positional `?` substitution, skipping any ? inside string literals
        Option(args).toSeq.flatMap(splitTop(_)).map(_.trim).foreach { a =>
          val spans = literalSpans(body)
          val idx = Iterator.iterate(body.indexOf('?'))(i => body.indexOf('?', i + 1))
            .takeWhile(_ >= 0)
            .find(i => !spans.exists(sp => i >= sp._1 && i < sp._2))
          idx.foreach(i => body = body.substring(0, i) + a + body.substring(i + 1))
        }
        execOne(body)
      case deallocateRe(name) =>
        procedures.remove(name.toLowerCase); status()
      case createViewRe(orReplace, ine, name, cmt, colList, query) =>
        // CreateView.java:90-98: an existing object under the name means
        // IF NOT EXISTS → silent no-op; otherwise only OR REPLACE over an
        // existing VIEW may proceed (a TABLE is never replaceable)
        if (tables.contains(name.toLowerCase)) {
          if (ine != null) return status()
          require(orReplace != null && viewDefs.contains(name.toLowerCase),
            s"VIEW_ALREADY_EXISTS: $name (CreateView.java:95)")
        }
        viewDefs(name.toLowerCase) = query.trim
        // COMMENT IS 'remark' in the definition (Parser.java parseCreateView)
        Option(cmt).foreach(c => comments(("VIEW", name.toLowerCase)) = c)
        val df0 = runSelect(query)
        // optional view column list renames positionally, count-mismatch
        // TOLERATED (TableView.java; documented in ViewTest.java:109-121:
        // "(f1) AS SELECT id,name" → columns f1,name — extra select
        // columns keep their own names; "(f1,f2) AS SELECT id" → f1 only,
        // the surplus list name is silently ignored, no error)
        val df = Option(colList).map { cl =>
          val names = cl.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
          val full = df0.columns.zipWithIndex.map { case (c, i) =>
            if (i < names.length) names(i) else c.toLowerCase }
          df0.toDF(full.toSeq: _*)
        }.getOrElse(df0)
        register(name, df); status()
      case dropViewRe(name) =>
        viewDefs.remove(name.toLowerCase)
        tables.remove(name.toLowerCase)
        spark.catalog.dropTempView(name.toLowerCase); status()
      case alterRenameTableRe(a, b) =>
        renameTable(a.toLowerCase, b.toLowerCase); status()
      case alterAddConstraintRe(tn, cn, body) =>
        addConstraint(tn.toLowerCase, cn.toLowerCase, body.trim); status()
      case alterSetRefIntRe(tn, v) =>
        // SET REFERENTIAL_INTEGRITY (AlterTableSet.java): FALSE suspends FK
        // checks (bulk-load pattern); TRUE revalidates the table's FKs
        refIntegrity = v.equalsIgnoreCase("TRUE")
        if (refIntegrity)
          foreignKeys.filter(_.table == tn.toLowerCase).foreach { fk =>
            require(noRows(Dml.fkViolations(table(fk.table), fk.cols,
              table(fk.refTable), fk.refCols)),
              s"FK ${fk.name} violated on revalidation")
          }
        status()
      case alterDropPkRe(tn) =>
        primaryKeys.remove(tn.toLowerCase); status()
      case alterDropConstraintRe(_, cn) =>
        val n = cn.toLowerCase
        foreignKeys.filterInPlace(_.name != n)
        checks.filterInPlace(_.name != n)
        indexes.remove(n); status()
      case alterDropColRe(tn, ie, c) =>
        val t0 = table(tn)
        val cl = c.toLowerCase
        if (t0.columns.contains(cl)) {
          // AlterTableAlterColumn.java:191 CANNOT_DROP_LAST_COLUMN — a
          // table must keep at least one (visible) column
          require(t0.columns.count(_ != "_rowid_") > 1,
            s"cannot drop last column $c (AlterTableAlterColumn.java:191)")
          register(tn, t0.drop(cl))
          colDefaults.get(tn.toLowerCase).foreach(_.remove(cl))
        } else {
          // Table.getColumn: unknown column errors without IF EXISTS
          require(ie != null, s"COLUMN_NOT_FOUND: $c (ALTER TABLE DROP)")
        }
        status()
      case alterChangeColRe(tn, from, to, _) =>
        // MySQL CHANGE: rename only, declared type ignored (Parser.java:5338)
        require(table(tn).columns.map(_.toLowerCase)
          .contains(from.toLowerCase), s"COLUMN_NOT_FOUND: $from (CHANGE)")
        execOne(s"ALTER TABLE $tn ALTER COLUMN $from RENAME TO $to")
      case alterRenameColRe(tn, from, to) =>
        register(tn, table(tn).withColumnRenamed(from.toLowerCase, to.toLowerCase))
        primaryKeys.get(tn.toLowerCase).foreach { ks =>
          primaryKeys(tn.toLowerCase) =
            ks.map(k => if (k == from.toLowerCase) to.toLowerCase else k)
        }
        if (identityCols.get(tn.toLowerCase).contains(from.toLowerCase))
          identityCols(tn.toLowerCase) = to.toLowerCase
        colDefaults.get(tn.toLowerCase).foreach { ds =>
          ds.remove(from.toLowerCase).foreach(d => ds(to.toLowerCase) = d)
        }
        notNullCols.get(tn.toLowerCase).foreach { nn =>
          if (nn(from.toLowerCase))
            notNullCols(tn.toLowerCase) = nn - from.toLowerCase + to.toLowerCase
        }
        status()
      case alterColSetDefaultRe(tn, c, d) =>
        colDefaults.getOrElseUpdate(tn.toLowerCase,
          mutable.LinkedHashMap.empty)(c.toLowerCase) = d.trim
        status()
      case alterColDropDefaultRe(tn, c) =>
        colDefaults.get(tn.toLowerCase).foreach(_.remove(c.toLowerCase)); status()
      case alterColNullRe(_, _) =>
        // nullability is advisory in a snapshot engine; accepted for parity
        status()
      case alterAddMultiRe(tn, defs) =>
        splitTop(defs).map(_.trim).filter(_.nonEmpty).foreach { d =>
          val parts = d.split("\\s+", 2)
          addColumn(tn, parts(0), if (parts.length > 1) parts(1) else "STRING",
            None, None)
        }
        status()
      case alterAddColRe(tn, cName, typeSpec, before, after)
          if !cName.equalsIgnoreCase("CONSTRAINT") =>
        addColumn(tn, cName, typeSpec, Option(before), Option(after)); status()
      case alterColTypeRe(tn, cName, typeSpec)
          // SET/SELECTIVITY/RESTART/DROP forms are attribute tweaks, not
          // type changes — never mis-parse their keywords as a type
          if !Set("SET", "SELECTIVITY", "RESTART", "DROP", "RENAME")
            .contains(typeSpec.trim.split("\\s+")(0).toUpperCase) =>
        val t = table(tn)
        val c = cName.toLowerCase
        register(tn, t.withColumn(c, col(c).cast(parseType(typeSpec))))
        status()
      case alterColTypeRe(_, _, _) =>
        status() // attribute-only ALTER COLUMN form: advisory in a snapshot engine
      case createPkRe(name, tn, cols) =>
        // CREATE PRIMARY KEY [HASH] name ON t(cols) (index-test shapes)
        val ks = cols.split(",").map(_.trim.toLowerCase).toSeq
        require(noRows(Dml.duplicateKeys(table(tn), ks)),
          s"PRIMARY KEY $name violated by existing rows")
        primaryKeys(tn.toLowerCase) = ks
        indexes(name.toLowerCase) =
          IndexDef(name.toLowerCase, tn.toLowerCase, ks, unique = true)
        status()
      case dropSeqRe(name) =>
        // SEQUENCE_BELONGS_TO_A_TABLE_1 (ddl/DropSequence.java via
        // SequenceTest.java drop()): a table-owned sequence refuses DROP
        sequences.get(name.toLowerCase).foreach { s =>
          require(!s.belongsToTable,
            s"SEQUENCE_BELONGS_TO_A_TABLE: $name (SequenceTest.java drop)")
        }
        sequences.remove(name.toLowerCase); status()
      case createDatabaseRe(ifNotExists, name) =>
        // DATABASE_ALREADY_EXISTS_1 without IF NOT EXISTS (DatabaseTest —
        // including the always-present root database)
        require(ifNotExists != null || !databases.contains(name.toLowerCase),
          s"DATABASE_ALREADY_EXISTS: $name (ddl/CreateDatabase.java)")
        databases += name.toLowerCase; status()
      case alterDatabaseRe(name) =>
        // the reference resolves the database first (Parser.java:4720)
        require(databases.contains(name.toLowerCase),
          s"DATABASE_NOT_FOUND: $name (ddl/AlterDatabase.java)")
        status()
      case dropDatabaseRe(name) =>
        require(name.toLowerCase != "graft", "cannot drop the current database")
        databases -= name.toLowerCase; status()
      case createIndexRe(unique, ine, name, tn, cols) =>
        if (indexes.contains(name.toLowerCase)) {
          // INDEX_ALREADY_EXISTS_1 (CreateIndex.java:87)
          require(ine != null,
            s"INDEX_ALREADY_EXISTS: $name (CreateIndex.java:87)")
          return status()
        }
        val ks = cols.split(",").map(_.trim.toLowerCase).toSeq
        if (unique != null)
          require(noRows(Dml.duplicateKeys(nonNullKeyed(table(tn), ks), ks)),
            s"unique index $name violated by existing rows")
        indexes(name.toLowerCase) =
          IndexDef(name.toLowerCase, tn.toLowerCase, ks, unique != null)
        // under SET BUCKETED_INDEXES 1, the index also takes physical
        // effect: the table's rows materialize bucketed on the key, so
        // joins on it plan co-located (the reference's secondary index
        // gives key-ordered locality; bucketBy is the Spark-native form)
        if (bucketedIndexes) bucket(tn, ks)
        status()
      case dropIndexRe(name) =>
        indexes.remove(name.toLowerCase); status()
      case csvWriteRe(path, querySql) =>
        // H2's CSVWRITE returns the written row count; the path is a
        // directory (Spark writes partitioned files — coalesced to one for
        // the reference's single-file contract)
        import spark.implicits._
        val df = runSelect(querySql.replace("''", "'"))
        val n = df.count()
        df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)
        Seq(n).toDF("rows_written")
      case createAliasRe(force, ine, name, target) =>
        registerAliasChecked(name, ine != null, force != null, aliases, target)(
          () => ReflectAlias.register(spark, name.toLowerCase, target))
      case createAliasSrcRe(force, ine, name, src) =>
        registerAliasChecked(name, ine != null, force != null, aliasSources, src)(
          () => ReflectAlias.registerSource(spark, name.toLowerCase, src))
      case dropAliasRe(name) =>
        aliases.remove(name.toLowerCase)
        aliasSources.remove(name.toLowerCase)
        spark.sql(s"DROP TEMPORARY FUNCTION IF EXISTS ${name.toLowerCase}")
        status()
      case createAggregateRe(force, ifNotExists, name, className) =>
        val n = name.toLowerCase
        // Parser.java:4455: a built-in aggregate/function name is taken
        require(!Engine.builtinAggregates.contains(n) && !aliases.contains(n)
            && !aliasSources.contains(n),
          s"FUNCTION_ALIAS_ALREADY_EXISTS: $name (Parser.java:4455)")
        if (userAggs.contains(n)) {
          require(ifNotExists != null,
            s"FUNCTION_ALIAS_ALREADY_EXISTS: $name (ddl/CreateAggregate.java:45)")
        } else {
          if (force == null) UserAggregate.validate(className) // eager unless FORCE
          UserAggregate.register(spark, n, className)
          userAggs(n) = className
        }
        status()
      case dropAggregateRe(name) =>
        userAggs.remove(name.toLowerCase); status()
      case createConstantRe(ine, name, value) =>
        if (constants.contains(name.toLowerCase))
          // CONSTANT_ALREADY_EXISTS_1 (CreateConstant.java:61)
          require(ine != null,
            s"CONSTANT_ALREADY_EXISTS: $name (CreateConstant.java:61)")
        else constants(name.toLowerCase) = value.trim
        status()
      case dropConstantRe(name) =>
        constants.remove(name.toLowerCase); status()
      case createDomainRe(ine, name, baseType, check) =>
        if (domains.contains(name.toLowerCase)) {
          // USER_DATA_TYPE_ALREADY_EXISTS_1 (CreateUserDataType.java:63)
          require(ine != null,
            s"USER_DATA_TYPE_ALREADY_EXISTS: $name (CreateUserDataType.java:63)")
          return status()
        }
        // a NON-HIDDEN built-in type name is never creatable, even under
        // IF NOT EXISTS; a HIDDEN alias (int, bool, text, …) is
        // shadowable only while no user table exists
        // (CreateUserDataType.java:63-74)
        require(!builtinTypeNames(name.toUpperCase),
          s"USER_DATA_TYPE_ALREADY_EXISTS: $name (CreateUserDataType.java:68)")
        if (hiddenTypeNames(name.toUpperCase))
          require(tables.isEmpty,
            s"USER_DATA_TYPE_ALREADY_EXISTS: $name (${tables.keys.head}) " +
              "(CreateUserDataType.java:72)")
        // resolves through parseType, so the domain is usable in CREATE
        // TABLE column definitions (CreateUserDataType.java)
        domains(name.toLowerCase) = baseType.trim
        Option(check).foreach(c => domainChecks(name.toLowerCase) = c.trim)
        status()
      case dropDomainRe(name) =>
        domains.remove(name.toLowerCase)
        domainChecks.remove(name.toLowerCase); status()
      case createTriggerRe(ine, name, timing, tableName, tail) =>
        if (triggers.contains(name.toLowerCase)) {
          // TRIGGER_ALREADY_EXISTS_1 (CreateTrigger.java:105)
          require(ine != null,
            s"TRIGGER_ALREADY_EXISTS: $name (CreateTrigger.java:105)")
          return status()
        }
        val ev = timing.trim.toUpperCase.replaceAll("\\s+", " ")
        // QUEUE must be non-negative (ddl/CreateTrigger.setQueueSize →
        // ErrorCode.INVALID_VALUE_2, TriggerObjectTest)
        Rw.find(tail, 0, Rw.Kw("QUEUE"), Rw.SignedDigits).foreach {
          case (_, _, caps) =>
            require(caps(0).toInt >= 0,
              s"INVALID_VALUE QUEUE ${caps(0)} (ddl/CreateTrigger.java)")
        }
        // SELECT triggers cannot be row-based (CreateTrigger.update →
        // TRIGGER_SELECT_AND_ROW_BASED_NOT_SUPPORTED)
        if (Rw.contains(tail, Rw.Kw("FOR"), Rw.Kw("EACH"), Rw.Kw("ROW")))
          require(!ev.split("[ ,]+").contains("SELECT"),
            s"TRIGGER_SELECT_AND_ROW_BASED_NOT_SUPPORTED: $name")
        triggers(name.toLowerCase) = (tableName.toLowerCase, ev)
        status()
      case dropTriggerRe(name) =>
        triggers.remove(name.toLowerCase); status()
      case dropAllRe() =>
        tables.keys.toSeq.foreach(spark.catalog.dropTempView)
        tables.clear(); primaryKeys.clear(); identityCols.clear()
        identityNext.clear(); sequences.clear(); indexes.clear()
        services.clear(); serviceInstances.clear()
        foreignKeys.clear(); checks.clear(); viewDefs.clear()
        aliases.clear(); aliasSources.clear(); userAggs.clear()
        constants.clear(); domains.clear(); triggers.clear(); rights.clear()
        notNullCols.clear(); colDefaults.clear()
        roles.clear(); roles += "public"; roleGrants.clear()
        comments.clear(); rowidPk.clear(); rowidTables.clear()
        rowidNext.clear(); pendingDml.clear()
        status()
      case createSchemaRe(ine, name, owner) =>
        val n = name.toLowerCase
        // SCHEMA_ALREADY_EXISTS without IF NOT EXISTS; AUTHORIZATION needs
        // an existing ADMIN user (ADMIN_RIGHTS_REQUIRED — SchemaTest)
        if (schemas.contains(n))
          require(ine != null, s"SCHEMA_ALREADY_EXISTS: $name")
        else {
          Option(owner).map(_.toLowerCase).foreach { o =>
            require(users.contains(o), s"USER_NOT_FOUND: $owner")
            require(users(o), s"ADMIN_RIGHTS_REQUIRED: $owner (SchemaTest)")
            schemaOwners(n) = o
          }
          schemas += n
        }
        status()
      case dropSchemaRe(ie, name) =>
        val n = name.toLowerCase
        // SCHEMA_CAN_NOT_BE_DROPPED covers the system schemas
        require(n != "public" && n != "information_schema",
          s"SCHEMA_CAN_NOT_BE_DROPPED: $name")
        // DropSchema.java:54 — missing schema errors without IF EXISTS
        if (!schemas.contains(n))
          require(ie != null, s"SCHEMA_NOT_FOUND: $name (DropSchema.java:54)")
        schemas -= n; schemaOwners.remove(n); status()
      case alterSchemaRenameRe(from, to) =>
        val f = from.toLowerCase
        require(f != "information_schema" && f != "public",
          s"schema $from can not be renamed") // SCHEMA_CAN_NOT_BE_DROPPED
        require(schemas.contains(f), s"SCHEMA_NOT_FOUND: $from")
        // AlterSchemaRename.java:57 — target name taken
        require(!schemas.contains(to.toLowerCase),
          s"SCHEMA_ALREADY_EXISTS: $to (AlterSchemaRename.java:57)")
        schemas.remove(f)
        schemas += to.toLowerCase
        schemaOwners.remove(f).foreach(o => schemaOwners(to.toLowerCase) = o)
        status()
      case createUserRe(ine, name, cmt, admin) =>
        createUserChecked(name, ine != null, cmt, admin != null)
      case createUserSaltRe(ine, name, cmt, admin) =>
        createUserChecked(name, ine != null, cmt, admin != null)
      case createUserIdentRe(ine, name, cmt, admin) =>
        createUserChecked(name, ine != null, cmt, admin != null)
      case alterUserRenameRe(from, to) =>
        // USER_ALREADY_EXISTS when the target name is taken (UserTest)
        require(users.contains(from.toLowerCase),
          s"USER_NOT_FOUND: $from")
        require(!users.contains(to.toLowerCase),
          s"USER_ALREADY_EXISTS: $to (AlterUser rename)")
        users.remove(from.toLowerCase).foreach(a => users(to.toLowerCase) = a)
        schemaOwners.mapValuesInPlace((_, o) =>
          if (o == from.toLowerCase) to.toLowerCase else o)
        status()
      case alterUserPasswordRe(name) =>
        require(users.contains(name.toLowerCase), s"user $name not found")
        status()
      case alterUserSaltRe(name) =>
        // salt+hash recorded as set, like passwords (single-user engine)
        require(users.contains(name.toLowerCase), s"user $name not found")
        status()
      case alterUserAdminRe(name, admin) =>
        val n = name.toLowerCase
        require(users.contains(n), s"user $name not found")
        // revoking ADMIN while the user owns a schema refuses
        // (ErrorCode.CANNOT_DROP_2 — UserTest: drop the schema first)
        if (!admin.equalsIgnoreCase("TRUE"))
          require(!schemaOwners.values.exists(_ == n),
            s"CANNOT_DROP: $name owns a schema (UserTest)")
        users(n) = admin.equalsIgnoreCase("TRUE"); status()
      case dropUserRe(ifEx, name, cascade) =>
        val n = name.toLowerCase
        if (!users.contains(n)) {
          require(ifEx != null, s"USER_NOT_FOUND: $name (DropUser)")
        } else {
          if (cascade == null)
            require(!schemaOwners.values.exists(_ == n),
              s"CANNOT_DROP: $name owns a schema (UserTest)")
          else {
            val owned = schemaOwners.collect { case (s, o) if o == n => s }
            owned.foreach { s => schemas -= s; schemaOwners.remove(s) }
          }
          users.remove(n)
        }
        status()
      case alterIndexRenameRe(from, to) =>
        val ix = indexes.remove(from.toLowerCase).getOrElse(
          throw new IllegalArgumentException(s"INDEX_NOT_FOUND: $from"))
        indexes(to.toLowerCase) = ix.copy(name = to.toLowerCase); status()
      case grantRe(privs, obj, grantee) =>
        // a role name inside an ON-form right list is the reference's
        // ROLES_AND_RIGHT_CANNOT_BE_MIXED error (GrantRevoke.java)
        if (privs.split(",").map(_.trim.toLowerCase).exists(roles.contains))
          throw new IllegalArgumentException(
            "roles and rights cannot be mixed")
        privs.split(",").map(_.trim.toUpperCase).foreach(p =>
          rights += ((grantee.toLowerCase, p, obj.toLowerCase)))
        status()
      case revokeRe(privs, obj, grantee) =>
        val revoked = privs.split(",").map(_.trim.toUpperCase).toSet
        rights.filterInPlace { case (g, p, o) =>
          !(g == grantee.toLowerCase && o == obj.toLowerCase && revoked(p))
        }
        status()
      case createRoleRe(ifNot, name) =>
        val n = name.toLowerCase
        if (users.contains(n)) // USER_ALREADY_EXISTS_1, even under IF NOT EXISTS
          throw new IllegalArgumentException(s"user $name already exists")
        if (roles.contains(n)) {
          if (ifNot == null)
            throw new IllegalArgumentException(s"role $name already exists")
        } else roles += n
        status()
      case dropRoleRe(ifEx, name) =>
        val n = name.toLowerCase
        if (n == "public") // DbObjectTestBase: the system role is undroppable
          throw new IllegalArgumentException("role PUBLIC cannot be dropped")
        if (!roles.remove(n) && ifEx == null)
          throw new IllegalArgumentException(s"role $name not found")
        roleGrants.filterInPlace { case (r, g) => r != n && g != n }
        comments.remove(("ROLE", n))
        status()
      case grantRoleRe(items0, grantee) =>
        val items = items0.split(",").map(_.trim)
        val (rs, nonRoles) = items.partition(i => roles.contains(i.toLowerCase))
        if (rs.nonEmpty && nonRoles.nonEmpty)
          throw new IllegalArgumentException("roles and rights cannot be mixed")
        val g = grantee.toLowerCase
        if (rs.isEmpty)
          // object-less system right (GRANT ALTER ANY SCHEMA TO u)
          items.map(_.toUpperCase).foreach(p => rights += ((g, p, "*")))
        else rs.foreach { r =>
          val rn = r.toLowerCase
          // duplicate (incl. transitive) or cycle → ROLE_ALREADY_GRANTED_1
          if (rn == g || hasRole(g).contains(rn) || hasRole(rn).contains(g))
            throw new IllegalArgumentException(s"role $r already granted")
          roleGrants += ((rn, g))
        }
        status()
      case revokeRoleRe(items0, grantee) =>
        val g = grantee.toLowerCase
        val items = items0.split(",").map(_.trim.toLowerCase).toSet
        roleGrants.filterInPlace { case (r, gr) =>
          !(gr == g && items.contains(r)) }
        rights.filterInPlace { case (gr, p, o) =>
          !(gr == g && o == "*" && items.contains(p.toLowerCase)) }
        status()
      case commentRe(typ, qname, text) =>
        val t = typ.toUpperCase
        val tail = qname.toLowerCase.split("\\.")
          .takeRight(if (t == "COLUMN") 2 else 1).mkString(".")
        t match {
          case "TABLE" => require(tables.contains(tail),
            s"table $qname not found")
          case "COLUMN" =>
            tail.split("\\.") match {
              case Array(tn, cn) =>
                require(tables.get(tn).exists(
                  _.columns.map(_.toLowerCase).contains(cn)),
                  s"column $qname not found")
              case _ => throw new IllegalArgumentException(
                s"COMMENT ON COLUMN needs table.column, got $qname")
            }
          case "ROLE" => require(roles.contains(tail), s"role $qname not found")
          case "USER" => require(users.contains(tail), s"user $qname not found")
          case _ =>
        }
        if (text.equalsIgnoreCase("NULL")) comments.remove((t, tail))
        else comments((t, tail)) =
          text.stripPrefix("'").stripSuffix("'").replace("''", "'")
        status()
      case createTableAsRe(ine, name, query) =>
        if (tables.contains(name.toLowerCase)) {
          // TABLE_OR_VIEW_ALREADY_EXISTS_1 (CreateTable.java:125-129):
          // IF NOT EXISTS returns without touching the existing table
          require(ine != null,
            s"TABLE_OR_VIEW_ALREADY_EXISTS: $name (CreateTable.java:129)")
        } else {
          register(name, runSelect(query))
          commitPendingStorage(name.toLowerCase)
        }
        status()
      case createTableRe(ine, name, colDefs, tableTail) =>
        val tn = name.toLowerCase
        if (tables.contains(tn)) {
          // TABLE_OR_VIEW_ALREADY_EXISTS_1 (CreateTable.java:125-129) —
          // the reference checks BEFORE evaluating column defs / tails,
          // and IF NOT EXISTS leaves the existing table untouched
          require(ine != null,
            s"TABLE_OR_VIEW_ALREADY_EXISTS: $name (CreateTable.java:129)")
          return status()
        }
        // model-codegen attributes (CreateTable.java packageName/genCode):
        // recorded for SCRIPT round trip AFTER the create succeeds (a
        // failed create must not leak them — same contract as
        // commitPendingStorage); the generator itself is a build-time
        // artifact (writes .java files), not query semantics
        val (cgPkg, cgCode, cgOc) =
          parseTableTail(Option(tableTail).getOrElse(""))
        cgOc.foreach(registerOnCommit(tn, _))
        val (schema, pks0, inlineIdx, inlineCons) = parseColumnDefs(colDefs)
        var pks = pks0
        val notNull = mutable.Set.empty[String]
        // IDENTITY / AUTO_INCREMENT / SERIAL column (Column.java
        // auto-increment + backing Sequence, Sequence.java:25):
        // engine-assigned ids. SERIAL/BIGSERIAL is auto-increment PK except
        // under PostgreSQL mode (Mode.java serialColumnIsNotPK).
        splitTop(colDefs).map(_.trim).foreach { d =>
          val up = maskedUpper(d) // literal-blind: DEFAULT 'NOT NULL' is data
          val cn = d.split("\\s+")(0).toLowerCase
          val typeTok = up.split("\\s+").drop(1).headOption.getOrElse("")
          val serial = typeTok.startsWith("SERIAL") || typeTok.startsWith("BIGSERIAL")
          if (up.contains("IDENTITY") || up.contains("AUTO_INCREMENT") || serial) {
            identityCols(tn) = cn
            identityNext(tn) = 1L
            if (serial && !modeFlags.serialColumnIsNotPK && !pks.contains(cn))
              pks = pks :+ cn
          }
          if (up.contains("NOT NULL") || up.contains("PRIMARY KEY")) notNull += cn
        }
        if (pks.nonEmpty) { primaryKeys(tn) = pks; notNull ++= pks }
        notNullCols(tn) = notNull.toSet
        // domain CHECKs attach to every column declared with the domain
        // type (UserDataType column constraint): VALUE → the column name,
        // enforced by the same per-batch validator as table CHECKs
        splitTop(colDefs).map(_.trim).foreach { d =>
          val toks = d.split("\\s+")
          if (toks.length >= 2) {
            val cn = toks(0).toLowerCase
            val base = toks(1).takeWhile(c => c.isLetter || c == '_').toLowerCase
            domainChecks.get(base).foreach { chk =>
              checks += CheckDef(s"${tn}_${cn}_domain", tn,
                chk.replaceAll("(?i)\\bVALUE\\b", cn))
            }
          }
        }
        // DEFAULT expr / computed `AS expr` column options (Column.java
        // defaultExpression) — applied on omitted columns and the DEFAULT
        // keyword in VALUES
        // trailing column options (NOT NULL / AUTO_INCREMENT / UNIQUE) are
        // not part of the default expression
        // token scan: DEFAULT keyword + trailing-option stripping can
        // never bind inside a default literal (DEFAULT 'x NOT NULL' is
        // one token)
        splitTop(colDefs).map(_.trim).foreach { d0 =>
          defaultClause(d0, leadIdent = true) match {
            case Some((cn, dflt)) if !cn.equalsIgnoreCase("PRIMARY") =>
              colDefaults.getOrElseUpdate(tn,
                mutable.LinkedHashMap.empty)(cn.toLowerCase) = dflt.trim
            case _ =>
          }
        }
        inlineIdx.foreach { case (ixName, cols, unique) =>
          indexes(ixName) = IndexDef(ixName, tn, cols, unique)
        }

        // _ROWID_ pseudo-column wiring (PseudoColumnTest): a single
        // integral PRIMARY KEY IS the row id (StandardPrimaryIndex
        // clustered key); otherwise a hidden engine-assigned column —
        // unless the user declared _rowid_ as an ordinary column.
        import org.apache.spark.sql.types._
        val intPk = pks match {
          case Seq(pk) => schema.fields
            .find(_.name.equalsIgnoreCase(pk))
            .filter(f => Seq(ByteType, ShortType, IntegerType, LongType)
              .contains(f.dataType))
            .map(_ => pk.toLowerCase)
          case _ => None
        }
        val declaredRowid =
          schema.fieldNames.exists(_.equalsIgnoreCase("_rowid_"))
        val finalSchema = intPk match {
          case Some(pk) => rowidPk(tn) = pk; schema
          case None if !declaredRowid =>
            rowidTables += tn; rowidNext(tn) = 1L
            schema.add("_rowid_", LongType)
          case None => schema
        }
        register(name, spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], finalSchema))
        if (cgPkg.isDefined || cgCode.isDefined)
          tableCodegen(tn) = (cgPkg, cgCode)
        commitPendingStorage(tn)
        // inline table constraints route through the SAME machinery as
        // ALTER TABLE ADD CONSTRAINT — AFTER registration (the validator
        // reads the just-created empty table; vacuous now, then the
        // recorded constraint guards every mutation); unnamed ones get a
        // reference-style generated name
        inlineCons.zipWithIndex.foreach { case ((cn, body), i) =>
          addConstraint(tn, cn.getOrElse(s"${tn}_cons_$i"), body)
        }
        status()
      case dropTableRe(ifExists, tail) =>
        val (names, restrict) = dropTableTail(tail)
        names.foreach { n0 =>
          val n = n0.toLowerCase
          if (!tables.contains(n))
            // TABLE_OR_VIEW_NOT_FOUND_1 (DropTable.java:76-78)
            require(ifExists != null, s"table not found: $n0")
          else {
            // dependent views: RESTRICT refuses naming them (CANNOT_DROP_2,
            // DropTable.java:84-93); CASCADE (the default) drops them too
            val deps = viewDefs.toSeq.collect { case (vn, q)
                if Lex.tokens(q).exists(_.isIdent(q, n)) => vn }
            if (restrict && deps.nonEmpty)
              throw new IllegalArgumentException(
                s"cannot drop $n0, dependent views exist: ${deps.mkString(", ")}")
            deps.foreach { vn =>
              viewDefs.remove(vn); tables.remove(vn)
              comments.remove(("VIEW", vn))
              spark.catalog.dropTempView(vn)
            }
            dropOneTable(n)
          }
        }
        status()
      case truncateRe(name) =>
        register(name, Dml.truncate(table(name))); status()
      case createServiceRe(ifNotExists, name, body, rest) =>
        // ddl/CreateService.java: register the typed method list + the
        // PACKAGE / IMPLEMENT BY / GENERATE CODE attributes (codegen is a
        // build-time artifact the reference writes to disk — recorded,
        // not emitted); dispatch happens via the
        // EXECUTE_SERVICE_*_RETURN_VALUE function pair (substServices)
        val key = name.toUpperCase
        if (services.contains(key))
          require(ifNotExists != null,
            s"service already exists: $name (ddl/CreateService.java)")
        else {
          val methods = parseServiceMethods(body)
          val (pkg, impl, code) = parseServiceTail(Option(rest).getOrElse(""))
          services(key) = ServiceDef(key,
            methods.map(m => m.name -> m).toMap, pkg, impl, code)
        }
        status()
      case dropServiceRe(ifExists, name) =>
        val key = name.toUpperCase
        if (!services.contains(key))
          require(ifExists != null, s"service $key not found")
        services.remove(key); serviceInstances.remove(key)
        status()
      case createSeqRe(ine, name, rest) =>
        if (sequences.contains(name.toLowerCase)) {
          // SEQUENCE_ALREADY_EXISTS_1 (CreateSequence.java:67)
          require(ine != null,
            s"SEQUENCE_ALREADY_EXISTS: $name (CreateSequence.java:67)")
          return status()
        }
        val o = parseSeqOptions(Option(rest).getOrElse(""))
        val inc = o.inc.getOrElse(1L)
        // default start = min bound for ascending, max for descending
        // (Sequence.java:162-164); explicit bounds feed that default
        val start = o.start.getOrElse(
          if (inc >= 0) o.min.flatten.getOrElse(1L)
          else o.max.flatten.getOrElse(-1L))
        sequences(name.toLowerCase) = new Sequence(start, inc,
          o.min.getOrElse(None), o.max.getOrElse(None),
          cycle = o.cycle.getOrElse(false), belongsToTable = o.belongsToTable)
        status()
      case alterSeqRe(name, rest) =>
        val s = seqOrFail(name)
        val o = parseSeqOptions(Option(rest).getOrElse(""))
        // AlterSequence semantics (Sequence.java:103-126): provided values
        // replace, RESTART WITH resets the live value, then re-validate
        o.inc.foreach(s.inc = _)
        o.min.foreach(m => s.minV = m.getOrElse(
          if (s.inc >= 0) math.min(1L, s.next) else Long.MinValue))
        o.max.foreach(m => s.maxV = m.getOrElse(
          if (s.inc >= 0) Long.MaxValue else math.max(-1L, s.next)))
        o.cycle.foreach(s.cycle = _)
        o.start.foreach { v => s.next = v; s.curr = v - s.inc }
        s.validate()
        status()
      case InsertStmt(name, cols, body) =>
        body match {
          case InsValues(tuples, Some(sets)) if modeFlags.onDuplicateKeyUpdate =>
            doUpsert(name, Option(cols),
              parseValueRows(name, tuples,
                Option(cols).map(c => splitTop(c).map(_.trim.toLowerCase))), sets)
          case InsValues(_, Some(_)) =>
            throw new IllegalArgumentException(
              "INSERT … ON DUPLICATE KEY UPDATE requires SET MODE MySQL " +
                "(Mode.java onDuplicateKeyUpdate)")
          case InsSet(sets) =>
            // MySQL INSERT INTO t SET c=v, … (Parser.java:1052)
            val pairs = splitTop(sets).map { s0 =>
              val Array(c, v) = s0.split("=", 2); (c.trim.toLowerCase, v.trim)
            }
            doInsert(name, Some(pairs.map(_._1).mkString(",")),
              parseValueRows(name, "(" + pairs.map(_._2).mkString(", ") + ")",
                Some(pairs.map(_._1))))
          case InsValues(tuples, None) =>
            doInsert(name, Option(cols),
              parseValueRows(name, tuples,
                Option(cols).map(c => splitTop(c).map(_.trim.toLowerCase))))
          case InsDefaults =>
            // INSERT INTO t DEFAULT VALUES (Parser.java:1033): one row,
            // every declared column at its DEFAULT (hidden _rowid_ and
            // IDENTITY columns fill themselves downstream)
            val tn = name.toLowerCase
            val n = table(name).columns
              .count(c => !(rowidTables.contains(tn) && c == "_rowid_"))
            doInsert(name, None,
              parseValueRows(name, "(" + Seq.fill(n)("DEFAULT").mkString(", ") + ")"))
          case InsSelect(query) =>
            doInsert(name, Option(cols), selectForInsert(query))
        }
        status()
      case MergeStmt(name, cols, keys, source) =>
        val src = source.trim match {
          case v if v.toUpperCase.startsWith("VALUES") =>
            // MERGE … VALUES() is the reference's malformed-UPDATE syntax
            // error (Merge.java builds "UPDATE t SET WHERE id=?" from an
            // empty column list — MergeTest pins the throw)
            require(v.substring(6).trim.replaceAll("\\s+", "") != "()",
              s"Syntax error: MERGE INTO $name VALUES() (Merge.java)")
            parseValueRows(name, v.substring(6),
              Option(cols).map(c => splitTop(c).map(_.trim.toLowerCase)))
          case p if p.startsWith("(") && p.endsWith(")") =>
            runSelect(p.substring(1, p.length - 1)) // MERGE … KEY(k) (SELECT …)
          case q => runSelect(q)
        }
        val t = table(name)
        val aligned0m = alignForWrite(name.toLowerCase,
          Option(cols).map(splitTop(_).map(_.trim)), src)
        // hidden-rowid tables: merged rows take fresh ids (storage keys are
        // not stable across H2 updates either)
        val aligned = if (rowidTables.contains(name.toLowerCase))
          fillRowid(name.toLowerCase, aligned0m, Option(cols).exists(
            splitTop(_).exists(_.trim.equalsIgnoreCase("_rowid_"))))
        else aligned0m
        val key = Option(keys).map(_.split(",").map(_.trim.toLowerCase).toSeq)
          .orElse(primaryKeys.get(name.toLowerCase))
          .getOrElse(Seq(t.columns.head))
        // Merge.java merge(): "contains null values" fires only when a key
        // value was never SET — the key column is absent from the column
        // list, or a VALUES row has DEFAULT there with no column default
        // (row.getValue == Java null). An explicit/source NULL is ValueNull
        // (non-null object): the UPDATE matches nothing and the row INSERTS
        // — MergeTest pins merge-from-select with a NULL id succeeding
        // while VALUES(DEFAULT, …) on the key throws.
        locally {
          val provided: Seq[String] = Option(cols)
            .map(splitTop(_).map(_.trim.toLowerCase))
            .getOrElse(t.columns.toSeq.map(_.toLowerCase))
          key.foreach { k =>
            require(provided.contains(k),
              s"Column $k contains null values (Merge.java merge())")
          }
          if (source.trim.toUpperCase.startsWith("VALUES")) {
            val defaults = colDefaults.getOrElse(name.toLowerCase,
              mutable.LinkedHashMap.empty[String, String])
            splitTop(source.trim.substring(6).trim).map(_.trim)
              .filter(v => v.startsWith("(") && v.endsWith(")")).foreach { tup =>
                splitTop(tup.substring(1, tup.length - 1)).zipWithIndex
                  .foreach { case (v, i) =>
                    val cn = provided.lift(i).getOrElse("")
                    require(!(key.contains(cn) &&
                        v.trim.equalsIgnoreCase("DEFAULT") &&
                        !defaults.contains(cn)),
                      s"Column $cn contains null values (Merge.java merge())")
                  }
              }
          }
        }
        // row hooks per arm (H2 MERGE fires update-else-insert row
        // triggers, Merge.java:146): replaced = source rows whose key
        // exists, inserted = the rest; deltas are lazy
        val tn = name.toLowerCase
        val srcAligned = aligned.toDF(t.columns.toSeq: _*)
        val keyCols = key.map(col)
        val oldMatched = t.join(
          srcAligned.select(keyCols: _*).distinct(), key, "left_semi")
        val replaced = srcAligned.join(
          t.select(keyCols: _*).distinct(), key, "left_semi")
        val insertedArm = srcAligned.join(
          t.select(keyCols: _*).distinct(), key, "left_anti")
        if (!(fireTriggers(tn, "UPDATE", "BEFORE", oldMatched, replaced) |
            fireTriggers(tn, "INSERT", "BEFORE", t.limit(0), insertedArm))) {
          // a driver-local source is de-duplicated on the driver, so the
          // pending version holds no window exchange for later reads
          commitDml(name, lastPerKeyLocal(aligned, key) match {
            case Some(src) => Dml.mergeInto(t, src, key,
              onDupSourceKeys = "unchecked", nullKeysMatch = false)
            case None => Dml.mergeInto(t, aligned, key, nullKeysMatch = false)
          })
          fireTriggers(tn, "UPDATE", "AFTER", oldMatched, replaced)
          fireTriggers(tn, "INSERT", "AFTER", t.limit(0), insertedArm)
        }
        status()
      case UpdateStmt(name, sets, where, limit) =>
        val t = table(name)
        val cond0 = Option(where).map(w =>
          expr(substSequences(substConstants(w, Seq(name.toLowerCase)))))
          .getOrElse(lit(true))
        val setMap = splitTop(sets).map { s =>
          val Array(c, v) = s.split("=", 2)
          c.trim -> expr(substSequences(substConstants(v.trim, Seq(name.toLowerCase))))
        }.toMap
        // (out, oldRows): the rewritten table plus the exact victim set —
        // LIMIT restricts the row-hook delta to the rows actually updated
        val (out, oldRows) = Option(limit) match {
          case None =>
            (Dml.update(t, cond0, setMap), t.filter(coalesce(cond0, lit(false))))
          case Some(n) => // H2 UPDATE..LIMIT: first n matching rows.
            // orderBy+limit plans as TakeOrderedAndProject (no full sort
            // shuffle), and the ≤n victim ids broadcast back to the scan.
            val rid = t.withColumn("__rid", monotonically_increasing_id())
            val victims = rid.filter(cond0).orderBy(col("__rid")).limit(n.toInt)
              .select(col("__rid").as("__vic"))
            (Dml.update(
                rid.join(broadcast(victims), col("__rid") === col("__vic"), "left"),
                col("__vic").isNotNull, setMap)
              .drop("__rid", "__vic"),
              rid.join(broadcast(victims), col("__rid") === col("__vic"), "left_semi")
                .drop("__rid"))
        }
        // row-hook deltas: old = updated rows, new = those rows with the
        // SET list applied (Update.java fire sites, batched)
        val tn = name.toLowerCase
        val newRows = Dml.update(oldRows, lit(true), setMap)
        if (!fireTriggers(tn, "UPDATE", "BEFORE", oldRows, newRows)) {
          commitDml(name, out)
          fireTriggers(tn, "UPDATE", "AFTER", oldRows, newRows)
        }
        status()
      case DeleteStmt(name, where, limit) =>
        val t = table(name)
        val cond0 = Option(where).map(w =>
          expr(substSequences(substConstants(w, Seq(name.toLowerCase)))))
          .getOrElse(lit(true))
        // (out, oldRows): LIMIT restricts the row-hook delta to the rows
        // actually deleted (Delete.java fire sites)
        val (out, oldRows) = Option(limit) match {
          case None =>
            (Dml.delete(t, cond0), t.filter(coalesce(cond0, lit(false))))
          case Some(n) =>
            val rid = t.withColumn("__rid", monotonically_increasing_id())
            val victims = rid.filter(cond0).orderBy(col("__rid")).limit(n.toInt)
              .select(col("__rid").as("__vic"))
            (rid.join(broadcast(victims), col("__rid") === col("__vic"), "left_anti")
              .drop("__rid"),
              rid.join(broadcast(victims), col("__rid") === col("__vic"), "left_semi")
                .drop("__rid"))
        }
        val tn = name.toLowerCase
        if (!fireTriggers(tn, "DELETE", "BEFORE", oldRows, t.limit(0))) {
          commitDml(name, out)
          fireTriggers(tn, "DELETE", "AFTER", oldRows, t.limit(0))
        }
        status()
      case helpRe(topic) =>
        val words = topic.trim.split("\\s+").filter(_.nonEmpty)
        val where = if (words.isEmpty) ""
          else words.map(w => s"UPPER(topic) LIKE '%${
            w.toUpperCase.replace("'", "''")}%'").mkString(" WHERE ", " AND ", "")
        runSelect(s"SELECT * FROM INFORMATION_SCHEMA.HELP$where")
      case useRe(schema) =>
        require(schemas.contains(schema.toLowerCase) ||
          schema.equalsIgnoreCase("information_schema"),
          s"schema $schema not found")
        sessionSettings("SCHEMA") = schema.toLowerCase; status()
      case checkpointStmtRe() => status()
      case showRe(what) => execShow(what.trim)
      case callRe(e) => runSelect(s"SELECT $e")
      case setGenericRe(opt, value) =>
        sessionSettings(opt.toUpperCase) = value.trim
        // turning statistics off discards collected data (reference
        // QueryStatisticsData lifecycle)
        if (opt.equalsIgnoreCase("QUERY_STATISTICS") &&
            (value.trim == "0" || value.trim.equalsIgnoreCase("FALSE")))
          queryStats.clear()
        // SET BUCKETED_INDEXES 1 (graft extension, default 0): while on,
        // CREATE INDEX additionally materializes the table's CURRENT rows
        // as a co-located bucketed layout on the indexed key (see bucket())
        // — the physical-locality half of the reference's secondary index,
        // opt-in because it pays a real write per index
        if (opt.equalsIgnoreCase("BUCKETED_INDEXES"))
          bucketedIndexes = Set("1", "TRUE", "ON")(value.trim.toUpperCase)
        status()
      case _ => runSelect(stmt)
    }
  }

  /** SHOW … (Parser.java:884 parseShow): each form rewrites to a select —
    * the same strategy as the reference, which builds SELECT text over
    * INFORMATION_SCHEMA (or DUAL constants for the PostgreSQL-protocol
    * session settings). */
  private[sqlfront] def execShow(what: String): DataFrame = {
    import spark.implicits._
    def one(name: String, value: String) = Seq(value).toDF(name)
    val up = what.toUpperCase.replaceAll("\\s+", " ")
    val showTablesRe = """(?i)^TABLES(?:\s+FROM\s+(\w+))?$""".r
    val showColumnsRe = """(?i)^COLUMNS\s+FROM\s+(\w+)(?:\s+FROM\s+(\w+))?$""".r
    what.trim match {
      case _ if up == "DATABASES" =>
        runSelect("SELECT database_name FROM INFORMATION_SCHEMA.DATABASES")
      case _ if up == "SCHEMAS" =>
        runSelect("SELECT schema_name FROM INFORMATION_SCHEMA.SCHEMATA")
      // PostgreSQL-protocol session settings (Parser.java:892-910)
      case _ if up == "CLIENT_ENCODING" => one("client_encoding", "UNICODE")
      case _ if up == "DEFAULT_TRANSACTION_ISOLATION" =>
        one("default_transaction_isolation", "read committed")
      case _ if up == "TRANSACTION ISOLATION LEVEL" =>
        one("transaction_isolation", "read committed")
      case _ if up == "DATESTYLE" => one("datestyle", "ISO")
      case _ if up == "SERVER_VERSION" => one("server_version", "8.1.4")
      case _ if up == "SERVER_ENCODING" => one("server_encoding", "UTF8")
      case showTablesRe(schema) =>
        val s = Option(schema).map(_.toLowerCase).getOrElse("public")
        runSelect("SELECT table_name, table_schema FROM INFORMATION_SCHEMA.TABLES " +
          s"WHERE table_schema='$s' ORDER BY table_name")
      case showColumnsRe(tn, _) =>
        // FIELD/TYPE/NULL/KEY/DEFAULT shape (Parser.java:922-933); KEY is
        // PRI for a primary-key column, UNI for a unique-indexed one
        val t = tn.toLowerCase
        val pk = primaryKeys.getOrElse(t, Seq.empty).toSet
        val uni = indexes.values.filter(ix => ix.unique && ix.table == t)
          .flatMap(_.cols).toSet
        val nn = notNullCols.getOrElse(t, Set.empty)
        val defs = colDefaults.getOrElse(t,
          mutable.LinkedHashMap.empty[String, String])
        table(t).schema.fields.toSeq.map { f =>
          (f.name, f.dataType.catalogString.toUpperCase,
            // PRIMARY KEY implies NOT NULL (Column.java PK nullability)
            if (f.nullable && !pk(f.name) && !nn(f.name)) "YES" else "NO",
            if (pk(f.name)) "PRI" else if (uni(f.name)) "UNI" else "",
            defs.getOrElse(f.name, "NULL"))
        }.toDF("field", "type", "null", "key", "default")
      case other => throw new IllegalArgumentException(s"SHOW $other not supported")
    }
  }

  private[sqlfront] def status(): DataFrame = {
    import spark.implicits._
    Seq("OK").toDF("status")
  }

  /** The shared CREATE USER contract (ddl/CreateUser.java; UserTest): a
    * role name blocks even under IF NOT EXISTS (ROLE_ALREADY_EXISTS), an
    * existing user errors without it (USER_ALREADY_EXISTS), COMMENT [IS]
    * records to the comments registry. */
  private def createUserChecked(name: String, ifNotExists: Boolean,
      comment: String, admin: Boolean): DataFrame = {
    val n = name.toLowerCase
    require(!roles.contains(n), s"ROLE_ALREADY_EXISTS: $name (CreateUser)")
    if (users.contains(n)) {
      require(ifNotExists, s"USER_ALREADY_EXISTS: $name (CreateUser)")
    } else {
      users(n) = admin
      Option(comment).foreach(c => comments(("USER", n)) = c)
    }
    status()
  }

  /** The shared CREATE ALIAS contract (ddl/CreateFunctionAlias.java +
    * FunctionAlias.init): the name may not shadow a built-in aggregate or
    * a user aggregate (Parser.java:4575), an existing alias errors without
    * IF NOT EXISTS, and FORCE records the alias even when resolution or
    * compilation fails — the failure then surfaces at first use. */
  private def registerAliasChecked(name: String, ifNotExists: Boolean,
      force: Boolean, store: mutable.LinkedHashMap[String, String],
      payload: String)(doRegister: () => Unit): DataFrame = {
    val n = name.toLowerCase
    require(!Engine.builtinAggregates.contains(n) && !userAggs.contains(n),
      s"FUNCTION_ALIAS_ALREADY_EXISTS: $name (Parser.java:4575)")
    val exists = aliases.contains(n) || aliasSources.contains(n)
    if (exists) {
      require(ifNotExists,
        s"FUNCTION_ALIAS_ALREADY_EXISTS: $name (ddl/CreateFunctionAlias.java)")
    } else {
      try doRegister()
      catch { case e: Exception => if (!force) throw e }
      store(n) = payload
    }
    status()
  }

}

private[sqlfront] object Engine {
  /** The reference's built-in aggregate names (Parser.getAggregateType /
    * Aggregate.java registry) — CREATE AGGREGATE/ALIAS may not shadow one
    * (FUNCTION_ALIAS_ALREADY_EXISTS_1, Parser.java:4455). */
  val builtinAggregates: Set[String] = Set(
    "count", "sum", "min", "max", "avg", "group_concat", "stddev_pop",
    "stddev_samp", "var_pop", "var_samp", "stddev", "variance", "bool_and",
    "bool_or", "every", "some", "selectivity", "histogram")
}
