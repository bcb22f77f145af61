package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteFromTable, LogicalPlan, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.graft.{Exprs, Plans}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.lake.LakeTable

/** SQL `DELETE FROM` / `UPDATE` for catalog-synced cdc-lake tables (the
  * everyday SQL write shapes besides INSERT INTO and MERGE INTO). Same
  * pattern as [[LakeMergeIntoRule]]: Spark resolves
  * both logical plans for any relation but rewrites them only for DSv2
  * row-level-op tables (a v1 target fails checkAnalysis), so this
  * post-hoc rule replaces the resolved plan with a command routing
  * through the table's NATIVE delete/upsert — identical state to the
  * DataFrame path (commit protocol, blooms, stats, MOR deltas, widening).
  *
  *  - `DELETE FROM t WHERE _key = 'k'` / `_key IN (...)` never scans:
  *    the literal keys go straight to the bloom-pruned native delete.
  *  - Any other predicate runs ONE snapshot scan filtered to the doomed
  *    keys — and the v1 relation's own pushdown applies, so a predicate
  *    on the partition column opens only those partitions and key
  *    predicates take the lookup route. Partitioned deletes route by the
  *    scanned row's partition value (no global fan-out).
  *  - `UPDATE t SET c = expr [WHERE p]` = filtered snapshot + assignment
  *    projection, upserted. Unassigned columns keep their scanned values
  *    (free read-modify-write — the scan IS the target row), `_ts`
  *    unassigned keeps the stored value (the update still wins: incoming
  *    beats stored on equal `_ts`), values may reference any target
  *    column (`SET amount = amount + 1`). Store-assignment casts unwrap
  *    to the lake's widening contract like MERGE (long→int, double→
  *    float). Rejected loudly: `_key` reassignment (rekeying — use
  *    delete + insert) and partition-column assignment (a row's
  *    partition is its placement; move explicitly).
  */
class LakeDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // resolved, not childrenResolved — same analyzer contract as
    // LakeMergeIntoRule (unresolved conditions/assignments must keep
    // failing in checkAnalysis with the proper error)
    case d: DeleteFromTable
        if d.resolved && LakeMergeInto.targetRelation(d.table).isDefined =>
      LakeDeleteFromCommand(d)
    case u: UpdateTable
        if u.resolved && LakeMergeInto.targetRelation(u.table).isDefined =>
      LakeUpdateCommand(u)
    // INSERT INTO: the built-in DataSourceAnalysis (earlier in this same
    // post-hoc batch) already routed the v1 InsertableRelation — wrap its
    // command so the write gets the shared post-write catalog sync (the
    // cached relation pins its version; without the refresh the statement
    // after an INSERT reads the pre-insert snapshot — LakeDmlSpec).
    case c: org.apache.spark.sql.execution.datasources.InsertIntoDataSourceCommand
        if c.logicalRelation.relation.isInstanceOf[LakeSnapshotRelation] =>
      LakeInsertSyncCommand(c)
    // ALTER TABLE ADD COLUMNS: the built-in command only supports
    // HadoopFsRelation providers (it would alter the CATALOG schema
    // alone, which the lake's manifest-driven reads would then reject as
    // a user-specified-vs-actual mismatch) — route to the manifest-only
    // addColumns commit the MERGE evolution path already uses.
    case a: org.apache.spark.sql.execution.command.AlterTableAddColumnsCommand
        if LakeSqlRewrites.lakeCatalogTable(
          session, a.table.database.toSeq :+ a.table.table).isDefined =>
      LakeAddColumnsCommand(a.table, a.colsToAdd)
    // ALTER COLUMN ... TYPE: manifest-only widening for exactly the
    // pairs the write path widens — the built-in v1 command would alter
    // only the catalog schema and desync it from the manifest.
    case c: org.apache.spark.sql.execution.command.AlterTableChangeColumnCommand
        if LakeSqlRewrites.lakeCatalogTable(
          session, c.tableName.database.toSeq :+ c.tableName.table).isDefined =>
      LakeWidenColumnCommand(c.tableName, c.columnName, c.newColumn)
  }
}

/** `ALTER TABLE <lake> ALTER COLUMN c TYPE t` — manifest-only widening
  * ([[graft.lake.LakeTable.widenColumn]]): int→bigint / float→double
  * only (files written at the narrow type upcast in the vectorized
  * reader, the same mechanism a widening upsert relies on); everything
  * else — renames, comments, narrowing, cross-kind — fails loudly.
  */
case class LakeWidenColumnCommand(
    table: org.apache.spark.sql.catalyst.TableIdentifier,
    columnName: String,
    newColumn: org.apache.spark.sql.types.StructField)
  extends LeafRunnableCommand {

  override def run(session: SparkSession): Seq[Row] = {
    if (newColumn.name != columnName)
      throw new UnsupportedOperationException(
        "cdc-lake ALTER COLUMN: renames are not supported — only type " +
          "widening (int->bigint, float->double)")
    val ct = session.sessionState.catalog.getTableMetadata(table)
    val handle = LakeHandles.fromOptions(session, LakeSqlRewrites.lakeParams(ct))
    handle.widenColumn(columnName, newColumn.dataType)
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
    Seq.empty
  }
}

/** `ALTER TABLE <lake> ADD COLUMNS (...)` — additive schema evolution
  * through the same manifest-only commit as `MERGE WITH SCHEMA
  * EVOLUTION` ([[graft.lake.LakeTable.addColumns]]): zero data IO,
  * readers null-fill older files, catalog re-registered. Duplicate and
  * reserved names fail loudly (SQL contract — the silent skip inside
  * addColumns is for the evolution path's idempotency, not DDL).
  */
case class LakeAddColumnsCommand(
    table: org.apache.spark.sql.catalyst.TableIdentifier,
    colsToAdd: Seq[org.apache.spark.sql.types.StructField])
  extends LeafRunnableCommand {

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"cdc-lake ALTER TABLE ADD COLUMNS: $msg")

  override def run(session: SparkSession): Seq[Row] = {
    val ct = session.sessionState.catalog.getTableMetadata(table)
    val handle = LakeHandles.fromOptions(session, LakeSqlRewrites.lakeParams(ct))
    // full schema: PARTITIONED-BY-declared columns live outside dataSchema
    val existing = ct.schema.fieldNames.toSet
    val dup = colsToAdd.map(_.name).filter(existing.contains)
    if (dup.nonEmpty) fail(s"column(s) already exist: ${dup.mkString(", ")}")
    val reserved = colsToAdd.map(_.name)
      .filter(n => n == graft.lake.LakeTable.BucketCol || n == graft.lake.LakeTable.PtsCol)
    if (reserved.nonEmpty) fail(
      s"reserved column name(s): ${reserved.mkString(", ")}")
    if (colsToAdd.map(_.name).distinct.size != colsToAdd.size)
      fail("duplicate column names in the ADD list")
    val cols = org.apache.spark.sql.types.StructType(colsToAdd)
    handle.addColumns(cols)
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
    Seq.empty
  }
}

/** `ALTER TABLE <lake> RENAME COLUMN a TO b` — the manifest-only
  * name-mapping commit ([[graft.lake.LakeTable.renameColumn]]): zero
  * data IO, files keep the column's birth name, readers alias, time
  * travel before the rename answers under the old name. Routed at PARSE
  * time (v2-only command; see [[LakeSqlRewrites]]).
  */
case class LakeRenameColumnCommand(
    table: org.apache.spark.sql.catalyst.TableIdentifier,
    from: String,
    to: String)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val ct = session.sessionState.catalog.getTableMetadata(table)
    val handle = LakeHandles.fromOptions(session, LakeSqlRewrites.lakeParams(ct))
    handle.renameColumn(from, to)
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
    Seq.empty
  }
}

/** `ALTER TABLE <lake> DROP COLUMN [IF EXISTS] c[, ...]` — the
  * manifest-only drop ([[graft.lake.LakeTable.dropColumn]]): the
  * column's physical name retires so a later re-add can never resurrect
  * old file data. `IF EXISTS` skips unknown names; otherwise they are
  * loud.
  */
case class LakeDropColumnsCommand(
    table: org.apache.spark.sql.catalyst.TableIdentifier,
    columns: Seq[String],
    ifExists: Boolean)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val ct = session.sessionState.catalog.getTableMetadata(table)
    val handle = LakeHandles.fromOptions(session, LakeSqlRewrites.lakeParams(ct))
    // case-insensitive presence, like Spark's resolution: an exact-case
    // filter would silently skip a case-variant of a live column
    val present = ct.schema.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val targets =
      if (ifExists) columns.filter(c => present.contains(c.toLowerCase(java.util.Locale.ROOT)))
      else columns
    targets.foreach(handle.dropColumn(_))
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
    Seq.empty
  }
}

/** [[org.apache.spark.sql.execution.datasources.InsertIntoDataSourceCommand]]
  * + the lake's post-write catalog sync (widen re-registration + cached
  * relation refresh) — see [[LakeMergeInto.syncCatalogSchema]].
  */
case class LakeInsertSyncCommand(
    inner: org.apache.spark.sql.execution.datasources.InsertIntoDataSourceCommand)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(inner)
  override def run(session: SparkSession): Seq[Row] = {
    val out = inner.run(session)
    LakeMergeInto.syncCatalogSchema(
      session,
      inner.logicalRelation.relation.asInstanceOf[LakeSnapshotRelation],
      inner.logicalRelation)
    out
  }
}

case class LakeDeleteFromCommand(d: DeleteFromTable) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(d)

  /** Literal string keys when the WHERE is exactly a `_key` equality/IN
    * over literals — the scan-free fast path. None = general predicate.
    */
  private def literalKeys(c: Expression): Option[Seq[String]] = {
    def str(l: Literal): Option[String] = l.value match {
      case s: UTF8String => Some(s.toString)
      case s: String => Some(s)
      case _ => None
    }
    c match {
      case EqualTo(a: Attribute, l: Literal)
          if a.name == LakeTable.KeyCol && l.dataType == StringType =>
        str(l).map(Seq(_))
      case EqualTo(l: Literal, a: Attribute)
          if a.name == LakeTable.KeyCol && l.dataType == StringType =>
        str(l).map(Seq(_))
      case In(a: Attribute, vs)
          if a.name == LakeTable.KeyCol && vs.nonEmpty &&
            vs.forall(v => v.isInstanceOf[Literal] && v.dataType == StringType) =>
        val keys = vs.map(v => str(v.asInstanceOf[Literal]))
        if (keys.forall(_.isDefined)) Some(keys.map(_.get)) else None
      case _ => None
    }
  }

  override def run(session: SparkSession): Seq[Row] = {
    val rel = LakeMergeInto.targetRelation(d.table).get
    import session.implicits._
    literalKeys(d.condition) match {
      case Some(keys) =>
        // scan-free: literal keys -> bloom-pruned native delete (global
        // fan-out on partitioned tables, each partition bloom-pruned)
        rel.mergeWrite(None,
          Some(keys.toDF(LakeTable.KeyCol)))
      case None =>
        val snapshot = Plans.ofRows(session, d.table)
        val rows = snapshot.filter(Exprs.column(d.condition))
        val keyCols = org.apache.spark.sql.functions.col(LakeTable.KeyCol) +:
          rel.partitionColumns.map(org.apache.spark.sql.functions.col)
        rel.mergeWrite(None, Some(rows.select(keyCols: _*)))
    }
    LakeMergeInto.syncCatalogSchema(session, rel, d.table)
    Seq.empty
  }
}

case class LakeUpdateCommand(u: UpdateTable) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(u)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"cdc-lake UPDATE: $msg")

  override def run(session: SparkSession): Seq[Row] = {
    val rel = LakeMergeInto.targetRelation(u.table).get
    val targetCols: Seq[Attribute] = u.table.output
    val targetType = targetCols.map(a => a.name -> a.dataType).toMap
    val partitionCols = rel.partitionColumns

    def nameOf(k: Expression): String = k match {
      case a: Attribute => a.name
      case other => fail(s"only top-level column assignment keys are supported: ${other.sql}")
    }
    // Same widening unwrap as MERGE — one shared helper so the two
    // routes cannot drift: see [[LakeMergeInto.unwiden]].
    def unwiden(key: String, v: Expression): Expression =
      LakeMergeInto.unwiden(targetType, key, v)
    val mkv: Map[String, Expression] =
      u.assignments.map(a => nameOf(a.key) -> unwiden(nameOf(a.key), a.value)).toMap
    if (mkv.size != u.assignments.size) fail("duplicate assignment targets")
    if (mkv.contains(LakeTable.KeyCol)) fail(
      s"'${LakeTable.KeyCol}' cannot be reassigned (rekeying) — delete + insert explicitly")
    partitionCols.foreach(p => if (mkv.contains(p)) fail(
      s"the partition column '$p' cannot be reassigned (a row's partition is its " +
        "placement) — delete + insert explicitly"))

    val snapshot = Plans.ofRows(session, u.table)
    val rows = u.condition match {
      case Some(c) => snapshot.filter(Exprs.column(c))
      case None => snapshot
    }
    // Free read-modify-write: the filtered scan IS the stored row, so
    // unassigned columns project straight through (their attributes
    // resolve by exprId against u.table's output).
    val cols = targetCols.map { a =>
      mkv.get(a.name) match {
        case Some(v) => Exprs.column(v).as(a.name)
        case None => Exprs.column(a).as(a.name)
      }
    }
    rel.mergeWrite(Some(rows.select(cols: _*)), None)
    LakeMergeInto.syncCatalogSchema(session, rel, u.table)
    Seq.empty
  }
}
