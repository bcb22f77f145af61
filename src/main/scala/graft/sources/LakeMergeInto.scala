package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeIntoTable, UpdateAction}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.{coalesce, col, lit, raise_error, when}
import org.apache.spark.sql.graft.{Exprs, Plans}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable

/** SQL `MERGE INTO` for catalog-synced cdc-lake tables (with SQL
  * `INSERT INTO` / `DELETE FROM` / `UPDATE` this is the practical SQL
  * write surface; a DSv2 reader proved unable to carry the lake's
  * exchange-bearing merge plans, and commands don't have that
  * limitation).
  *
  * Spark parses and RESOLVES `MergeIntoTable` for any relation (star
  * actions expand to column-by-name assignments in ResolveReferences)
  * but only REWRITES it to an executable plan for DSv2 row-level-op
  * tables — a v1 relation fails checkAnalysis. This post-hoc resolution
  * rule (registered in [[graft.functions.GraftExtensions]]) intercepts a
  * resolved merge whose target is a [[LakeSnapshotRelation]] and
  * replaces it with a runnable command that routes through the table's
  * NATIVE operations, so a SQL merge and a DataFrame
  * `upsert`/`merge`/`delete` produce identical state (commit protocol,
  * blooms, stats, widening, MOR deltas included).
  *
  * Supported shape (anything else fails LOUDLY — never silently
  * reinterpreted):
  *
  * {{{
  * MERGE INTO t USING s ON t._key = <source key expr>
  *   [WHEN MATCHED [AND <cond>] THEN UPDATE SET ... | DELETE]...
  *   [WHEN NOT MATCHED [AND <cond>] THEN INSERT ...]...
  * }}}
  *
  *  - Standard SQL first-match action routing: for each MATCHED source
  *    row the FIRST matched action whose condition holds applies (a null
  *    condition is a non-match); a matched row matching NO action is NOT
  *    written — it carries through unchanged. Unmatched rows take the
  *    first INSERT whose condition holds, or nothing. Matched conditions
  *    and UPDATE values may reference BOTH sides (`t.amount + s.delta`);
  *    INSERT conditions/values are source-only (there is no target row).
  *  - Partial `UPDATE SET` lists are read-modify-write: unassigned
  *    columns keep the TARGET row's values (the stored rows join in
  *    through the bloom-pruned [[LakeTable.rowsForKeys]] probe), exactly
  *    SQL UPDATE semantics — never silently nulled.
  *  - Partial INSERT column lists put SQL's NULL in unassigned payload
  *    columns; `_ts` must be assigned (the lake's precombine contract —
  *    a null `_ts` has no place in LWW ordering) and `_key` derives from
  *    the ON expression when unassigned.
  *  - The canonical `SET * / INSERT *` equivalent full-coverage shape
  *    WITHOUT a delete branch stays the probe-free LWW fast path: the
  *    whole source upserts in one commit, stale `_ts` loses (Hudi's
  *    precombine contract for its spark-sql MERGE). All split paths keep
  *    the same LWW contract per branch frame.
  *  - Partitioned tables are fully supported:
  *    [[graft.lake.PartitionedLakeTable.probeKeys]] decides matched-ness
  *    globally, deletes route by the TARGET row's partition value, and a
  *    matched UPDATE that would MOVE a row across partitions fails at
  *    runtime (partition value is part of row placement; move = delete +
  *    insert explicitly). When the SOURCE carries the partition column
  *    in-band, the probe visits ONLY the partitions the source names
  *    (the `deleteRouted` trust contract: the in-band value is
  *    the row's placement; a source naming the wrong partition for an
  *    existing key routes it to INSERT). Routing disables itself when a
  *    matched UPDATE assigns the partition column (the move guard needs
  *    the stored row wherever it lives) or any value is null; omit the
  *    column for the global (still bloom-pruned) probe.
  *  - `WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE/DELETE` (the
  *    sync-delete/sync-update shape) acts on target rows no source
  *    key names: target-only conditions/values, first-match routing,
  *    free read-modify-write (the population is the pinned snapshot
  *    anti-joined with the source keys — inherently a full-table scan,
  *    documented).
  *  - `WITH SCHEMA EVOLUTION`: ADDITIVE source columns append to
  *    the lake schema before resolution (parse-time manifest-only
  *    commit, [[LakeSqlRewrites]]) — star actions carry every new
  *    column, explicit lists the ones they name; type CHANGES stay with
  *    the write path's widen() (int→long / float→double, loud beyond).
  *  - Non-`_key` or non-equality ON conditions, nested-field assignment
  *    keys, nondeterministic WHEN conditions, and `_key` reassignment
  *    differing from ON are rejected loudly.
  */
class LakeMergeIntoRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    // m.resolved, not childrenResolved: a merge
    // whose conditions/assignments still hold unresolved attributes must
    // stay a MergeIntoTable so checkAnalysis reports the proper
    // column-not-found error — wrapping it in a resolved leaf command
    // would smuggle the unresolved expressions past the analyzer.
    case m: MergeIntoTable
        if m.resolved && LakeMergeInto.targetRelation(m.targetTable).isDefined =>
      LakeMergeIntoCommand(m)
  }
}

object LakeMergeInto {
  def targetRelation(p: LogicalPlan): Option[LakeSnapshotRelation] =
    p.collectFirst {
      case lr: LogicalRelation if lr.relation.isInstanceOf[LakeSnapshotRelation] =>
        lr.relation.asInstanceOf[LakeSnapshotRelation]
    }

  /** Catalog upkeep after anything that may move a catalog-synced lake
    * table's stored schema or version: SQL writes, ALTER TABLE, MERGE
    * schema evolution and the CALL procedures all end here.
    *
    *  - The data schema is `stored` minus the entry's declared
    *    `PARTITIONED BY` columns: the catalog holds those separately
    *    (`CatalogTable.schema` = dataSchema ++ partitionSchema), and
    *    re-registering them as data columns would duplicate them. When it
    *    differs from the entry's (a widening write, ADD COLUMNS, a rename
    *    or drop, or a rollback to an older schema) the entry is
    *    re-registered with `alterTableSchema(data ++ partitionSchema)`;
    *    otherwise every later read fails on the declared-vs-stored check.
    *    The data-schema-only catalog alter would refuse any schema that
    *    lacks an old column, which a rename, a drop or a rollback produces.
    *  - The cached relation ALWAYS drops: the session catalog caches the
    *    resolved LogicalRelation per table and lake relations PIN their
    *    version at creation, so without the refresh the statement AFTER
    *    a SQL write keeps reading — and a later UPDATE keeps scanning —
    *    the pre-write snapshot (a deleted row matching its predicate
    *    would silently resurrect).
    */
  def syncCatalogSchema(session: SparkSession, ct: CatalogTable, stored: StructType): Unit = {
    val data = StructType(stored.filterNot(f =>
      ct.partitionColumnNames.exists(_.equalsIgnoreCase(f.name))))
    if (data.nonEmpty && data != ct.dataSchema)
      session.sessionState.catalog.alterTableSchema(
        ct.identifier, StructType(data.fields ++ ct.partitionSchema.fields))
    session.catalog.refreshTable(ct.identifier.quotedString)
  }

  /** [[syncCatalogSchema]] after a SQL write through `rel` (MERGE INTO
    * and the DML commands); a no-op when `target` reads a path-only
    * relation.
    */
  def syncCatalogSchema(
      session: SparkSession, rel: LakeSnapshotRelation, target: LogicalPlan): Unit =
    target.collectFirst {
      case lr: LogicalRelation if lr.catalogTable.isDefined &&
          lr.relation.isInstanceOf[LakeSnapshotRelation] => lr.catalogTable.get
    }.foreach(syncCatalogSchema(session, _, rel.latestUserSchema))

  /** Undo Spark's store-assignment pre-narrowing so SQL writes keep the
    * lake's widening contract (shared by MERGE and UPDATE so the two
    * routes cannot drift): `resolveAssignments` wraps every
    * assignment value in a cast to the STORED column type for
    * non-rewritable targets, so a wider source arrives as
    * `cast(longVal as int)` and would ANSI-overflow instead of widening
    * the table. Unwrap exactly that inserted shape (top-level cast to
    * the stored type over a lake-widenable wider child: long→int,
    * double→float); the union + upsert then widen like the DataFrame
    * path. Known limit (documented in README): a USER-written identical
    * cast is indistinguishable post-resolution, so a deliberate
    * value-narrowing `CAST(bigintVal AS INT)` assignment also widens —
    * the lake's evolution contract takes precedence (values are
    * unchanged either way; only the stored type grows).
    */
  def unwiden(
      targetType: Map[String, org.apache.spark.sql.types.DataType],
      key: String, v: Expression): Expression = v match {
    case c: org.apache.spark.sql.catalyst.expressions.Cast
        if targetType.get(key).contains(c.dataType) &&
          ((c.child.dataType == org.apache.spark.sql.types.LongType &&
            c.dataType == org.apache.spark.sql.types.IntegerType) ||
            (c.child.dataType == org.apache.spark.sql.types.DoubleType &&
              c.dataType == org.apache.spark.sql.types.FloatType)) => c.child
    case _ => v
  }
}

case class LakeMergeIntoCommand(m: MergeIntoTable) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(m)

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"cdc-lake MERGE INTO: $msg")

  /** Target columns live in the probe frame under this prefix, so a
    * joined (source ⋈ target) row can evaluate two-sided expressions
    * without name collisions.
    */
  private val TPref = "__graft_t_"

  override def run(session: SparkSession): Seq[Row] = {
    val rel = LakeMergeInto.targetRelation(m.targetTable).get
    // WITH SCHEMA EVOLUTION: additive source columns were already
    // appended at parse time (LakeSqlRewrites.evolveForMerge — Spark's
    // own resolution would otherwise drop or reject them), so by the
    // time this command exists the merge is a plain one over the
    // widened schema; nothing evolution-specific remains to do here.

    val tOut = m.targetTable.outputSet
    val sOut = m.sourceTable.outputSet
    def sourceOnly(e: Expression): Boolean = e.references.subsetOf(sOut)
    def refsTarget(e: Expression): Boolean = e.references.exists(tOut.contains)

    // ON: exactly `t._key = <source expr>` (either side order)
    val srcKeyExpr: Expression = m.mergeCondition match {
      case EqualTo(l, r) =>
        def keySide(e: Expression): Boolean = e match {
          case a: Attribute => tOut.contains(a) && a.name == LakeTable.KeyCol
          case _ => false
        }
        if (keySide(l) && sourceOnly(r)) r
        else if (keySide(r) && sourceOnly(l)) l
        else fail(
          s"the ON condition must equate the target's '${LakeTable.KeyCol}' with a " +
            s"source-side expression, got: ${m.mergeCondition.sql}")
      case other =>
        fail(s"only a single `target.${LakeTable.KeyCol} = <source expr>` equality is " +
          s"supported in ON, got: ${other.sql}")
    }

    // First-match routing evaluates each WHEN condition in an
    // independent frame over the (materialized) base, so a
    // NONDETERMINISTIC condition (rand(), ...) could route one row into
    // several branches or none — rejected loudly, same determinism
    // rationale as the source materialization below.
    def deterministicOnly(c: Option[Expression], where: String): Unit =
      c.foreach(e => if (!e.deterministic) fail(
        s"nondeterministic $where condition: ${e.sql} — branch routing " +
          "evaluates each condition in an independent frame"))

    // Matched actions in DECLARATION order (first matching condition
    // wins, standard SQL; the parser already forces unconditional
    // clauses last). Right = update assignments, Left = delete.
    val matched: Seq[(Option[Expression], Either[Unit, Seq[Assignment]])] =
      m.matchedActions.map {
        case u: UpdateAction =>
          u.condition.foreach(c => if (!c.references.subsetOf(sOut ++ tOut)) fail(
            s"unresolvable WHEN MATCHED condition: ${c.sql}"))
          deterministicOnly(u.condition, "WHEN MATCHED")
          (u.condition, Right(u.assignments))
        case d: DeleteAction =>
          d.condition.foreach(c => if (!c.references.subsetOf(sOut ++ tOut)) fail(
            s"unresolvable WHEN MATCHED condition: ${c.sql}"))
          deterministicOnly(d.condition, "WHEN MATCHED")
          (d.condition, Left(()))
        case other => fail(s"unsupported WHEN MATCHED action: $other")
      }
    val inserts: Seq[(Option[Expression], Seq[Assignment])] =
      m.notMatchedActions.map {
        case i: InsertAction =>
          i.condition.foreach(c => if (!sourceOnly(c)) fail(
            s"a WHEN NOT MATCHED condition may reference only source columns " +
              s"(there is no target row): ${c.sql}"))
          deterministicOnly(i.condition, "WHEN NOT MATCHED")
          (i.condition, i.assignments)
        case other => fail(s"unsupported WHEN NOT MATCHED action: $other")
      }
    // WHEN NOT MATCHED BY SOURCE (the sync-delete/sync-update shape):
    // acts on TARGET rows whose key no source row names, so
    // conditions and values are target-only; the population is
    // inherently a full-table anti-join (documented — no probe can
    // shrink "every stored row the batch does not mention").
    def targetOnly(e: Expression, what: String): Unit =
      if (!e.references.subsetOf(tOut)) fail(
        s"WHEN NOT MATCHED BY SOURCE $what may reference only target columns " +
          s"(there is no source row): ${e.sql}")
    val bySource: Seq[(Option[Expression], Either[Unit, Seq[Assignment]])] =
      m.notMatchedBySourceActions.map {
        case u: UpdateAction =>
          u.condition.foreach(targetOnly(_, "conditions"))
          u.assignments.foreach(a => targetOnly(a.value, "values"))
          deterministicOnly(u.condition, "WHEN NOT MATCHED BY SOURCE")
          (u.condition, Right(u.assignments))
        case d: DeleteAction =>
          d.condition.foreach(targetOnly(_, "conditions"))
          deterministicOnly(d.condition, "WHEN NOT MATCHED BY SOURCE")
          (d.condition, Left(()))
        case other => fail(s"unsupported WHEN NOT MATCHED BY SOURCE action: $other")
      }
    if (matched.isEmpty && inserts.isEmpty && bySource.isEmpty)
      fail("no supported actions")

    val srcDf = Plans.ofRows(session, m.sourceTable)
    val keyCol = Exprs.column(srcKeyExpr)
    val targetCols: Seq[Attribute] = m.targetTable.output
    val targetNames = targetCols.map(_.name)
    // Layout-order partition columns; empty for plain tables. Composite
    // layouts generalize every partition-aware seam below: routing
    // needs ALL columns in-band, delete frames carry all of them, and
    // the move/reassignment guards apply per column.
    val partitionCols: Seq[String] = rel.partitionColumns

    def nameOf(k: Expression): String = k match {
      case a: Attribute => a.name
      case other => fail(s"only top-level column assignment keys are supported: ${other.sql}")
    }
    // Schema widening through the SQL route: see [[LakeMergeInto.unwiden]].
    val targetType = m.targetTable.output.map(a => a.name -> a.dataType).toMap
    def unwiden(key: String, v: Expression): Expression =
      LakeMergeInto.unwiden(targetType, key, v)
    def assignMap(as: Seq[Assignment], insert: Boolean): Map[String, Expression] = {
      as.foreach(a =>
        if (insert && !sourceOnly(a.value)) fail(
          s"INSERT values may reference only source columns: ${a.value.sql}"))
      val mkv = as.map(a => nameOf(a.key) -> unwiden(nameOf(a.key), a.value)).toMap
      if (mkv.size != as.size) fail("duplicate assignment targets")
      // an explicit `_key` assignment differing from the ON expression
      // would store rows under a DIFFERENT key than the one matched-ness
      // was decided on — silent rekeying, rejected
      mkv.get(LakeTable.KeyCol).foreach(v =>
        if (v.canonicalized != srcKeyExpr.canonicalized) fail(
          s"the '${LakeTable.KeyCol}' assignment must equal the ON expression " +
            s"(${srcKeyExpr.sql}), got: ${v.sql}"))
      if (insert && !mkv.contains(LakeTable.TsCol)) fail(
        s"INSERT must assign '${LakeTable.TsCol}' — the lake's LWW precombine " +
          "column cannot be null")
      mkv
    }
    val updMaps: Seq[Map[String, Expression]] =
      matched.collect { case (_, Right(as)) => assignMap(as, insert = false) }
    val insMaps: Seq[Map[String, Expression]] =
      inserts.map { case (_, as) => assignMap(as, insert = true) }

    // `_key` always derives from the ON expression; everything else an
    // UPDATE omits is read-modify-write from the target row.
    def rmwNeeded(mkv: Map[String, Expression]): Boolean =
      (targetNames.toSet - LakeTable.KeyCol -- mkv.keySet).nonEmpty

    // Rewrite target attribute references to the prefixed probe columns
    // (resolved source attrs pass through — they bind by exprId).
    def twoSided(e: Expression): Column = Exprs.column(e.transform {
      case a: Attribute if tOut.contains(a) => UnresolvedAttribute(Seq(TPref + a.name))
    })

    // Does ANY split-path evaluation need the target row joined in?
    val needTargetRows =
      matched.exists { case (c, act) =>
        c.exists(refsTarget) ||
          act.exists(_.exists(a => refsTarget(a.value)))
      } ||
        updMaps.exists(rmwNeeded) ||
        // partitioned: deletes route by — and partition-move guards
        // compare against — the TARGET row's partition value(s)
        (partitionCols.nonEmpty && matched.nonEmpty)

    def equivalent(a: Map[String, Expression], b: Map[String, Expression]): Boolean =
      a.keySet == b.keySet &&
        a.forall { case (k, v) => v.canonicalized == b(k).canonicalized }

    // ---- probe-free fast paths (no WHEN MATCHED split needed) ----------
    if (bySource.isEmpty) (matched, inserts) match {
      // Canonical CDC shape: one unconditional full-coverage UPDATE + the
      // equivalent unconditional INSERT — matched and unmatched rows take
      // the same row, so the whole source LWW-upserts in one commit with
      // NO membership probe at all.
      case (Seq((None, Right(_))), Seq((None, _)))
          if equivalent(updMaps.head, insMaps.head) && !rmwNeeded(updMaps.head) =>
        rel.mergeWrite(
          Some(frame(srcDf, updMaps.head, keyCol, targetCols, partitionCols, None)), None)
        return finish(session, rel)
      // Delete-only with a source-only condition: absent keys are a
      // bloom-pruned no-op and nothing else is written, so "matched"
      // needs no probe. On partitioned tables the source's in-band
      // partition columns ride along when ALL are present, so the
      // dispatch routes (deleteRouted) instead of fanning out globally
      // (a partial column set cannot name a partition).
      case (Seq((c, Left(()))), Seq()) if c.forall(sourceOnly) =>
        val rows = c.map(cc => srcDf.filter(Exprs.column(cc))).getOrElse(srcDf)
        val inBand =
          if (partitionCols.nonEmpty && partitionCols.forall(p =>
            srcDf.columns.contains(p) && p != LakeTable.KeyCol)) partitionCols
          else Nil
        val delCols = keyCol.as(LakeTable.KeyCol) +: inBand.map(p => rows(p))
        rel.mergeWrite(None, Some(rows.select(delCols: _*)))
        return finish(session, rel)
      case _ => ()
    }

    // ---- probe-split path ----------------------------------------------
    // Materialize the source ONCE: the probe path evaluates it across
    // several jobs (probeKeys' documented double-eval, the semi/anti
    // splits, per-action frames) — a nondeterministic SQL source (rand(),
    // a view over mutating data) would otherwise split inconsistently.
    // Also the legitimate reuse-across-different-plan-shapes case for
    // materialization.
    val stable = srcDf.localCheckpoint()
    val keyColS = Exprs.column(srcKeyExpr)
    val keysDf = stable.select(keyColS.as(LakeTable.KeyCol))

    // In-band partition routing: when the materialized source carries
    // the target's partition column, the membership probe visits ONLY
    // the partitions the source names — deleteRouted's trust contract:
    // the in-band value IS the row's placement (CDC envelopes carry the
    // stored row's payload). A source that names the WRONG partition for
    // an existing key routes that row to INSERT, exactly as its delete
    // would miss under deleteRouted — sources without the placement
    // guarantee should omit the column and pay the global (still
    // bloom-pruned) probe. Two escapes keep the trust bounded: an
    // unroutable identity (a null component, or a composite component
    // embedding '/') → global probe; and a matched UPDATE that ASSIGNS
    // the partition column disables routing entirely — the
    // partition-move guard must compare against the stored row wherever
    // it lives, and a routed probe would silently re-route the move to
    // INSERT instead of raising. Cost: one exchange-free routing collect
    // over the checkpointed source. Lazy: only the
    // matchedBase/unmatchedSrc block dereferences it, and that block is
    // itself lazy so a by-source-only merge stays probe-free.
    lazy val routedParts: Option[Seq[String]] =
      if (updMaps.exists(m => partitionCols.exists(m.contains))) None
      else rel.routedPartitions(stable)

    // Lazy: a by-source-only merge must not pay the membership probe
    // (probeKeys runs an eager candidate-bucket job when forced).
    // The probe RESULT is materialized (localCheckpoint — the
    // reuse-across-different-plan-shapes case): every action frame and
    // the matched/unmatched splits re-evaluate their base, so without it
    // K branches re-run the bloom pass + candidate-bucket scan K times
    // against the table. The probe output is BATCH-bounded either way
    // (matched target rows / present keys ≤ the source key count), so
    // the materialization never scales with the table.
    lazy val (matchedBase, unmatchedSrc): (DataFrame, DataFrame) =
      if (needTargetRows) {
        val tgt = rel.targetRowsForKeys(keysDf, routedParts).localCheckpoint()
        val clash = stable.columns.toSet & tgt.columns.map(TPref + _).toSet
        if (clash.nonEmpty) fail(
          s"source columns collide with the reserved '$TPref' prefix: ${clash.mkString(",")}")
        val tgtRenamed = tgt.select(tgt.columns.map(c => tgt(c).as(TPref + c)).toSeq: _*)
        (stable.join(tgtRenamed,
          keyColS === tgtRenamed(TPref + LakeTable.KeyCol), "inner"),
          stable.join(tgt.select(LakeTable.KeyCol),
            keyColS === tgt(LakeTable.KeyCol), "left_anti"))
      } else {
        val existing = rel.probeExistingKeys(keysDf, routedParts).localCheckpoint()
        (stable.join(existing, keyColS === existing(LakeTable.KeyCol), "left_semi"),
          stable.join(existing, keyColS === existing(LakeTable.KeyCol), "left_anti"))
      }

    // First-match routing: action i sees rows where its condition holds
    // and NO earlier condition did; a null condition value is a
    // non-match (SQL), hence the coalesce-to-false.
    def route[A](
        base: DataFrame,
        actions: Seq[(Option[Expression], A)],
        toCol: Expression => Column): Seq[(DataFrame, A)] = {
      var remaining: Column = lit(true)
      actions.map { case (c, a) =>
        val cc = c.map(e => coalesce(toCol(e), lit(false))).getOrElse(lit(true))
        val rows = base.filter(remaining && cc)
        remaining = remaining && !cc
        (rows, a)
      }
    }

    val upFrames = ArrayBuffer.empty[DataFrame]
    val delFrames = ArrayBuffer.empty[DataFrame]
    if (matched.nonEmpty) route(matchedBase, matched, twoSided).foreach {
      case (rows, Left(())) =>
        // route by the TARGET row's partition value(s)
        delFrames += rows.select(keyColS.as(LakeTable.KeyCol) +:
          partitionCols.map(p => rows(TPref + p).as(p)): _*)
      case (rows, Right(as)) =>
        upFrames += frame(rows, assignMap(as, insert = false), keyColS, targetCols,
          partitionCols, rmwFrom = Some(TPref), twoSidedCol = Some(twoSided))
    }
    if (inserts.nonEmpty) route(unmatchedSrc, inserts, (e: Expression) => Exprs.column(e))
      .foreach {
        case (rows, as) =>
          upFrames += frame(rows, assignMap(as, insert = true), keyColS, targetCols,
            partitionCols, None)
      }
    // NOT MATCHED BY SOURCE: target rows no source key names — the
    // pinned snapshot anti-joined with the (materialized) source keys.
    // The population is TABLE-sized by semantics (a full
    // reconciliation), so it routes in ONE pass:
    // a single case chain evaluates the first-match action id over the
    // anti-joined scan, rows matching no action drop right there (they
    // carry through by not being written), and K same-kind actions fuse
    // into ONE output frame — so the snapshot scans at most twice
    // (updates + deletes), not K times. When BOTH kinds consume it the
    // ACTED-ON rows materialize once: that set is bounded by the rows
    // this commit writes or deletes — the write amplification already
    // being paid — unlike the raw table-sized anti-join, so the
    // checkpoint scales with the statement's own work and the snapshot
    // is scanned exactly ONCE for a DELETE+UPDATE sync. Assignments
    // project over the scan itself, so unassigned columns are a FREE
    // read-modify-write; `_ts` unassigned keeps the stored value and
    // the update still wins the equal-`_ts` tie.
    if (bySource.nonEmpty) {
      val ActCol = "__graft_bys_action"
      if (targetNames.contains(ActCol)) fail(
        s"target columns collide with the reserved '$ActCol' name")
      val tgtAll = Plans.ofRows(session, m.targetTable)
      val srcKeys = stable.select(keyColS.as("__graft_src_key"))
      val notBySource = tgtAll.join(
        srcKeys, tgtAll(LakeTable.KeyCol) === srcKeys("__graft_src_key"), "left_anti")
      // first-match action id: a null condition value is a non-match (SQL)
      val actionId = bySource.zipWithIndex.foldRight(lit(-1): Column) {
        case (((c, _), i), els) =>
          val cc = c.map(e => coalesce(Exprs.column(e), lit(false))).getOrElse(lit(true))
          when(cc, lit(i)).otherwise(els)
      }
      val acted0 = notBySource.withColumn(ActCol, actionId).filter(col(ActCol) >= 0)
      val delIds: Seq[Int] =
        bySource.zipWithIndex.collect { case ((_, Left(())), i) => i }
      val updActs: Seq[(Int, Map[String, Expression])] =
        bySource.zipWithIndex.collect { case ((_, Right(as)), i) =>
          val mkv = as.map(a => nameOf(a.key) -> unwiden(nameOf(a.key), a.value)).toMap
          if (mkv.size != as.size) fail("duplicate assignment targets")
          if (mkv.contains(LakeTable.KeyCol)) fail(
            s"'${LakeTable.KeyCol}' cannot be reassigned (rekeying)")
          partitionCols.foreach(p => if (mkv.contains(p)) fail(
            s"the partition column '$p' cannot be reassigned (a row's partition " +
              "is its placement) — delete + insert explicitly"))
          i -> mkv
        }
      val acted =
        if (delIds.nonEmpty && updActs.nonEmpty) acted0.localCheckpoint()
        else acted0
      if (delIds.nonEmpty) {
        val rows = acted.filter(col(ActCol).isin(delIds: _*))
        delFrames += rows.select(
          col(LakeTable.KeyCol) +: partitionCols.map(col): _*)
      }
      if (updActs.nonEmpty) {
        val rows = acted.filter(col(ActCol).isin(updActs.map(_._1): _*))
        // every UPDATE action fuses into ONE projection: per column, a
        // when-chain over the action id, the stored value the default
        upFrames += rows.select(targetCols.map { a =>
          updActs.foldRight(Exprs.column(a)) { case ((i, mkv), els) =>
            mkv.get(a.name) match {
              case Some(v) => when(col(ActCol) === i, Exprs.column(v)).otherwise(els)
              case None => els
            }
          }.as(a.name)
        }: _*)
      }
    }

    val ups =
      if (upFrames.isEmpty) None
      else Some(upFrames.reduce(_.unionByName(_)))
    val dels =
      if (delFrames.isEmpty) None
      else Some(delFrames.reduce(_.unionByName(_)))
    rel.mergeWrite(ups, dels)
    finish(session, rel)
  }

  /** Shared post-write exit: widen re-registration + cached-relation
    * refresh — see [[LakeMergeInto.syncCatalogSchema]]. One manifest
    * read when schemas already agree.
    */
  private def finish(session: SparkSession, rel: LakeSnapshotRelation): Seq[Row] = {
    LakeMergeInto.syncCatalogSchema(session, rel, m.targetTable)
    Seq.empty
  }

  /** One action's output rows over `from`, aligned to the FULL target
    * column set: assigned columns evaluate their expressions (two-sided
    * on the matched branch), `_key` derives from the ON expression when
    * unassigned, and unassigned columns read-modify-write from the
    * prefixed target row (`rmwFrom` — matched branch) or take SQL
    * INSERT's null (unmatched branch; `_ts` was already required).
    * Assignment types are NOT cast to the stored column types — the
    * union + upsert coerce exactly like the DataFrame path, so a wider
    * source widens the table (int→long / float→double), the SQL
    * routes inheriting the lake's schema-evolution contract.
    * On partitioned tables a matched UPDATE assigning a partition value
    * different from the stored row's raises at runtime: the row's
    * placement is part of its identity here, and a silent upsert into
    * the new partition would leave the old row behind.
    */
  private def frame(
      from: DataFrame,
      mkv: Map[String, Expression],
      keyCol: Column,
      targetCols: Seq[Attribute],
      partitionCols: Seq[String],
      rmwFrom: Option[String],
      twoSidedCol: Option[Expression => Column] = None): DataFrame = {
    def valueOf(e: Expression): Column =
      twoSidedCol.map(f => f(e)).getOrElse(Exprs.column(e))
    val cols = targetCols.map { a =>
      mkv.get(a.name) match {
        case Some(v) if partitionCols.contains(a.name) && rmwFrom.isDefined =>
          val stored = from(rmwFrom.get + a.name)
          when(!(valueOf(v) <=> stored), raise_error(lit(
            s"cdc-lake MERGE INTO: UPDATE must not move a row across " +
              s"partitions (assigned '${a.name}' differs from the stored " +
              "partition value) — delete + insert explicitly")))
            .otherwise(stored)
            .as(a.name)
        case Some(v) => valueOf(v).as(a.name)
        case None if a.name == LakeTable.KeyCol => keyCol.as(a.name)
        case None => rmwFrom match {
          case Some(pref) => from(pref + a.name).as(a.name)
          case None => lit(null).cast(a.dataType).as(a.name) // SQL INSERT null
        }
      }
    }
    from.select(cols: _*)
  }
}
