package graft.sqlfront

import scala.collection.immutable.VectorMap

import org.apache.spark.sql.DataFrame

/** What `_rowid_` names in a table (StandardPrimaryIndex.java storage key;
  * PseudoColumnTest). */
private[sqlfront] sealed trait RowidKind
private[sqlfront] object RowidKind {
  /** A single integral PRIMARY KEY is the row id: `_rowid_` reads it. */
  final case class Pk(col: String) extends RowidKind
  /** A real hidden `_rowid_` column with engine-assigned max+1 values,
    * explicitly insertable, kept out of the view SQL sees so star
    * expansion and positional INSERT never meet it. */
  case object Hidden extends RowidKind
  /** No row id: a view, a frame registered from outside, or a table that
    * declares `_rowid_` as an ordinary column. */
  case object Absent extends RowidKind
}

/** One table or view of the [[Engine]] catalog: its current frame plus
  * everything keyed by the table alone (SURVEY §1.2: a table is one schema
  * object). The value is immutable. CREATE builds it, DML and ALTER replace
  * it, DROP removes it, RENAME re-keys it, and a transaction snapshot holds
  * it as it was. The objects with names of their own (indexes, constraints,
  * triggers, comments) stay in the engine's ordered lists and follow the
  * table through `Engine.moveOwned`.
  *
  * @param view         the CREATE VIEW query; None for a table
  * @param identity     the IDENTITY / AUTO_INCREMENT / SERIAL column
  * @param identityNext the next id the identity column assigns
  * @param rowidNext    the next hidden `_rowid_` value
  * @param notNull      NOT NULL and PRIMARY KEY columns (MySQL-mode
  *                     convertInsertNullToZero, SHOW COLUMNS)
  * @param defaults     column DEFAULT / computed-AS expressions in
  *                     declaration order, applied to omitted columns and
  *                     the DEFAULT keyword
  * @param pendingDml   lazy DML versions over the frame's base
  *                     (`Engine.commitDml`)
  * @param storage      CREATE-head storage modifiers (Parser.java:3969-3987):
  *                     MEMORY, CACHED, LOCAL or GLOBAL TEMPORARY, kept for
  *                     SCRIPT; every table maps to Spark the same way
  * @param onCommit     ON COMMIT DROP | DELETE ROWS of a temporary table,
  *                     applied at an explicit COMMIT
  * @param codegen      CREATE TABLE PACKAGE / GENERATE CODE (CreateTable.java
  *                     packageName/genCode), kept for SCRIPT, never run */
private[sqlfront] final case class TableEntry(
    frame: DataFrame,
    view: Option[String] = None,
    primaryKey: Option[Seq[String]] = None,
    identity: Option[String] = None,
    identityNext: Long = 1L,
    rowid: RowidKind = RowidKind.Absent,
    rowidNext: Long = 1L,
    notNull: Set[String] = Set.empty,
    defaults: VectorMap[String, String] = VectorMap.empty,
    pendingDml: Int = 0,
    storage: Option[String] = None,
    onCommit: Option[String] = None,
    codegen: (Option[String], Option[String]) = (None, None)) {

  def hiddenRowid: Boolean = rowid == RowidKind.Hidden

  /** The frame as SQL sees it: without a hidden `_rowid_`. Built once per
    * entry, since every statement that names the table reads it. */
  lazy val visible: DataFrame =
    if (hiddenRowid && frame.columns.contains("_rowid_")) frame.drop("_rowid_")
    else frame
}
