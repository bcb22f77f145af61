package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedAttribute, UnresolvedProcedure, UnresolvedRelation}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, Literal, NamedArgumentExpression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Call, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.{CreateDataSourceTableAsSelectCommand, CreateDataSourceTableCommand}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{LongType, StringType, StructType, TimestampNTZType, TimestampType}

import graft.lake.{LakeHandle, LakeTable, PartitionedLakeTable, ZOrder}

/** Shared construction of a config-matched lake handle from a cdc-lake
  * options map (the relation's `writeHandle` and the SQL `CALL`
  * procedures route through the SAME parsing so they cannot drift).
  * The handle carries the table's
  * writer configuration: a default handle would drop statsColumns (a
  * COW commit DELETES a touched bucket's stats entry when its handle
  * records none), Z-clustering, the MOR delta path, and bloom sidecars.
  * mergeMode is inferred from the stored manifest like every reader.
  */
object LakeHandles {
  /** The table at `path` under its stored layout: partitioned when its
    * `_table.json` says so, else plain (also when nothing is committed
    * yet). Default writer configuration — enough for reads and probes.
    */
  def open(spark: SparkSession, path: String, buckets: Int): LakeHandle =
    PartitionedLakeTable.open(spark, path, buckets)
      .getOrElse(new LakeTable(spark, path, buckets))

  def fromOptions(
      spark: SparkSession,
      parameters0: Map[String, String]): LakeHandle = {
    // Case-insensitive like the DataSource relation routes:
    // CALL procedures and the time-travel rewrite hand this the RAW
    // catalog storage.properties, so an option keyed `zorderby` or
    // `partitioncol` was honored on writes but invisible here — two
    // handle configs for one table.
    val parameters =
      org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters0)
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("cdc-lake table requires a path option"))
    val buckets =
      parameters.get("buckets").map(_.toInt).getOrElse(LakeTable.DefaultNumBuckets)
    def csv(k: String): Seq[String] = parameters.get(k)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    val fpb = parameters.get("filesPerBucket").map(_.toInt).getOrElse(1)
    val zo = csv("zorderBy")
    val blm = parameters.get("bloomOnWrite").forall(_.toBoolean)
    val tt = parameters.getOrElse("tableType", LakeTable.CowType)
    val ca = parameters.get("compactAfter").map(_.toInt).getOrElse(8)
    val sc = csv("statsColumns")
    // A DECLARED partition layout: `partitionCol`
    // (Hudi partitionpath.field synonym accepted) makes `CREATE TABLE
    // ... USING cdc-lake` / CTAS create the partition-path layout — the
    // reference declares per-table partitioning in config exactly like
    // this (`BinlogSyncHoodieCommand.scala:128-139`). Ignoring the
    // option would make the first write a PLAIN table — a silent-option
    // hole in an otherwise loud surface. Comma-separated declarations
    // (Hudi ComplexKeyGenerator partition-path parity) build the nested
    // composite layout.
    // Against an EXISTING table the declaration is validated, never
    // trusted (LakeHandle.forWrite, the rule the CDC sink shares).
    def normCols(s: String): Option[String] = {
      val cs = s.split(",").map(_.trim).filter(_.nonEmpty)
      if (cs.isEmpty) None else Some(cs.mkString(","))
    }
    val declaredPartition: Option[String] =
      parameters.get("partitionCol").flatMap(normCols)
        .orElse(
          parameters.get("hoodie.datasource.write.partitionpath.field").flatMap(normCols))
        // DataFrameWriter.partitionBy(...).save() ships the columns as a
        // JSON-encoded option (DataSourceUtils.PARTITIONING_COLUMNS_KEY);
        // the catalog routes go through LakeCreateTableRule instead. A
        // zero-length array (a degenerate `.partitionBy()` call) is NO
        // declaration, not an error.
        .orElse(parameters.get("__partition_columns").flatMap { json =>
          val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
          val cs = (0 until node.size()).map(node.get(_).asText())
          if (cs.isEmpty) None else Some(cs.mkString(","))
        })
    LakeHandle.forWrite(spark, path, buckets, declaredPartition,
      fpb, blm, zo, tt, ca, sc, mergeMode = None)
  }
}

/** Parser extension: the two SQL surfaces Spark's analyzer cannot
  * hand to an extension rule because its own resolution THROWS first —
  * both rewritten right after parsing, before any analysis runs.
  *
  *  1. **Time travel**: `SELECT ... FROM t VERSION AS OF n` /
  *     `TIMESTAMP AS OF <instant>` over a catalog-synced cdc-lake table
  *     becomes the pinned relation the `versionAsOf`/`timestampAsOf`
  *     read options already produce (ResolveRelations raises
  *     UNSUPPORTED_FEATURE.TIME_TRAVEL for any v1 relation before an
  *     injected resolution rule ever sees the plan). Partitioned tables
  *     take a JSON vector: `VERSION AS OF '{"eu": 2, "us": 1}'`. Other
  *     providers / unknown tables pass through to Spark's own (loud)
  *     error. Because view bodies re-parse through the SESSION parser,
  *     views over time-travel reads work too.
  *  2. **Maintenance procedures**: `CALL [graft.]run_compaction(table =>
  *     't')` and friends (Hudi's spark-sql procedure parity) — the
  *     session catalog is not a DSv2 ProcedureCatalog, so vanilla
  *     resolution can only fail. Known names route to
  *     [[LakeCallCommand]]; `CALL graft.<unknown>` fails loudly here,
  *     anything else passes through untouched.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    LakeSqlRewrites.rewrite(session, delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan =
    LakeSqlRewrites.rewrite(session, delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): org.apache.spark.sql.catalyst.FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object LakeSqlRewrites {
  private val Procedures = Set(
    "run_compaction", "run_clustering", "run_vacuum", "rollback_to_instant",
    "create_savepoint", "delete_savepoint", "show_savepoints", "show_commits",
    "show_partitions", "drop_partitions")

  def rewrite(session: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan match {
      // EXPLAIN parses into ExplainCommand — a LeafRunnableCommand that
      // holds the explained plan as a FIELD, not a child —
      // so without this recursion neither the time-travel rewrite nor
      // the schema-evolution pre-widening would fire and `EXPLAIN
      // SELECT ... VERSION AS OF` would surface Spark's own
      // UNSUPPORTED_FEATURE error. Note this makes `EXPLAIN MERGE ...
      // WITH SCHEMA EVOLUTION` evolve the table (the documented
      // DSv2-style analysis-time side effect — additive + idempotent).
      case e: org.apache.spark.sql.execution.command.ExplainCommand =>
        e.copy(logicalPlan = rewrite(session, e.logicalPlan))
      // CALL is always top-level
      case c: Call => c.procedure match {
        case up: UnresolvedProcedure if up.nameParts.length == 1 &&
            Procedures.contains(up.nameParts.head.toLowerCase(java.util.Locale.ROOT)) =>
          LakeCallCommand(
            up.nameParts.head.toLowerCase(java.util.Locale.ROOT), c.args)
        case up: UnresolvedProcedure if up.nameParts.length == 2 &&
            up.nameParts.head.equalsIgnoreCase("graft") =>
          val name = up.nameParts(1).toLowerCase(java.util.Locale.ROOT)
          if (!Procedures.contains(name)) throw new UnsupportedOperationException(
            s"cdc-lake CALL: unknown procedure 'graft.$name' — known: " +
              Procedures.toSeq.sorted.mkString(", "))
          LakeCallCommand(name, c.args)
        case _ => c
      }
      // ALTER TABLE ... RENAME COLUMN / DROP COLUMN: v2-only
      // commands — ResolveSessionCatalog throws UNSUPPORTED_FEATURE for
      // session-catalog v1 tables before any post-hoc rule runs, so
      // (like time travel) the parser is the only seam. Both route to
      // the manifest-only name-mapping commits; non-lake targets pass
      // through to Spark's own (loud) error. ALTER is always top-level.
      case rc: org.apache.spark.sql.catalyst.plans.logical.RenameColumn =>
        alterIdent(session, rc.table) match {
          case Some(ct) => LakeRenameColumnCommand(
            ct.identifier, singleField(rc.column, "RENAME COLUMN"), rc.newName)
          case None => rc
        }
      case dc: org.apache.spark.sql.catalyst.plans.logical.DropColumns =>
        alterIdent(session, dc.table) match {
          case Some(ct) => LakeDropColumnsCommand(
            ct.identifier,
            dc.columnsToDrop.map(singleField(_, "DROP COLUMN")),
            dc.ifExists)
          case None => dc
        }
      case p =>
        p match {
          // MERGE WITH SCHEMA EVOLUTION: additive
          // source columns must join the table schema BEFORE resolution —
          // Spark's star expansion silently drops them and its assignment
          // resolution throws UNRESOLVED_COLUMN, both inside the built-in
          // Resolution rules, so no injected analyzer rule runs in time.
          case m: MergeIntoTable if m.withSchemaEvolution =>
            evolveForMerge(session, m)
          case _ => ()
        }
        p.transformDownWithSubqueries {
        case rtt @ RelationTimeTravel(u: UnresolvedRelation, tsOpt, vOpt) =>
          lakeCatalogTable(session, u.multipartIdentifier) match {
            case Some(ct) =>
              val asOf: Option[(String, String)] = (vOpt, tsOpt) match {
                case (Some(v), _) => Some("versionAsOf" -> v)
                case (_, Some(ts)) => Some("timestampAsOf" -> instantParam(ts))
                case _ => None // parser guarantees one is present
              }
              asOf match {
                case Some(kv) =>
                  val rel = new LakeSnapshotRelation(
                    session.sqlContext, lakeParams(ct) + kv)
                  LogicalRelation(rel, ct)
                case None => rtt
              }
            case None => rtt
          }
      }
    }

  /** Parse-time additive schema evolution for `MERGE WITH SCHEMA
    * EVOLUTION` over a catalog-synced lake target: analyze the SOURCE
    * subplan (independent of the merge), find the source columns the
    * statement can evolve — every extra column when a star action is
    * present (star expansion maps target columns from the source by
    * name, so widening the target first makes `SET * / INSERT *` carry
    * them), else exactly the new names the assignment lists reference —
    * and append them via the manifest-only [[LakeTable.addColumns]]
    * commit, re-registering the catalog entry so this statement's own
    * resolution (and every later read) binds against the widened
    * schema. Same-name/different-type columns are NOT new — they stay
    * with the write path's widen() (int→long / float→double, loud
    * beyond). Like DSv2's analysis-time ALTER, the widening happens
    * whether or not the statement goes on to execute (EXPLAIN included)
    * — additive and idempotent, so a replay is a no-op. Non-catalog /
    * non-lake targets and unanalyzable sources pass through to Spark's
    * own errors.
    */
  private def evolveForMerge(session: SparkSession, m: MergeIntoTable): Unit = {
    val ident = m.targetTable.collectFirst {
      case u: UnresolvedRelation => u.multipartIdentifier
    }
    val ct = ident.flatMap(lakeCatalogTable(session, _)).getOrElse(return)
    val sourceSchema =
      try session.sessionState.analyzer.execute(m.sourceTable).schema
      catch { case _: Exception => return }
    val resolver = session.sessionState.conf.resolver
    // the FULL schema: PARTITIONED-BY-declared columns live outside
    // dataSchema and must not look "new"
    val existing = ct.schema.fields.map(_.name)
    def isNew(name: String): Boolean = !existing.exists(resolver(_, name))
    val actions = m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions
    val hasStar = actions.exists {
      case _: UpdateStarAction | _: InsertStarAction => true
      case _ => false
    }
    val assignedNames: Set[String] = actions.flatMap {
      case u: UpdateAction => u.assignments.map(_.key)
      case i: InsertAction => i.assignments.map(_.key)
      case _ => Nil
    }.collect {
      case ua: UnresolvedAttribute if ua.nameParts.nonEmpty => ua.nameParts.last
    }.toSet
    val wanted = sourceSchema.fields.filter { f =>
      isNew(f.name) && (hasStar || assignedNames.exists(resolver(_, f.name)))
    }
    if (wanted.isEmpty) return
    val reserved = wanted.map(_.name)
      .filter(n => n == LakeTable.BucketCol || n == LakeTable.PtsCol)
    if (reserved.nonEmpty) throw new UnsupportedOperationException(
      s"cdc-lake MERGE WITH SCHEMA EVOLUTION: reserved column name(s) " +
        s"${reserved.mkString(", ")} cannot be added")
    val handle = LakeHandles.fromOptions(session, lakeParams(ct))
    handle.addColumns(StructType(wanted.toSeq))
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
  }

  /** The lake catalog entry an ALTER targets (its child is an
    * UnresolvedTable); None = not a lake table, pass through.
    */
  private def alterIdent(
      session: SparkSession, table: LogicalPlan): Option[CatalogTable] =
    table.collectFirst {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedTable =>
        u.multipartIdentifier
    }.flatMap(lakeCatalogTable(session, _))

  /** A top-level single-part field name; nested fields are loud (the
    * lake schema is flat).
    */
  private def singleField(
      f: org.apache.spark.sql.catalyst.analysis.FieldName, what: String): String =
    f match {
      case u: org.apache.spark.sql.catalyst.analysis.UnresolvedFieldName
          if u.name.size == 1 => u.name.head
      case other => throw new UnsupportedOperationException(
        s"cdc-lake ALTER TABLE $what takes a top-level column name, got: " +
          other.name.mkString("."))
    }

  /** The catalog entry when `nameParts` names a cdc-lake table in the
    * session catalog; None (pass through) otherwise.
    */
  private[sources] def lakeCatalogTable(
      session: SparkSession, nameParts: Seq[String]): Option[CatalogTable] = {
    // Temp-view precedence: a temp view shadowing a
    // catalog-synced lake table must win for `t VERSION AS OF n` exactly
    // as it does for plain `t` — resolving past it to the catalog table
    // would read a DIFFERENT relation than the unversioned query. Pass
    // through to Spark's own (loud) time-travel-over-view error.
    if (session.sessionState.catalog.isTempView(nameParts)) return None
    val ident = nameParts match {
      case Seq(t) => Some(TableIdentifier(t))
      case Seq(db, t) => Some(TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    ident.flatMap { id =>
      try {
        val ct = session.sessionState.catalog.getTableMetadata(id)
        if (ct.provider.exists(_.equalsIgnoreCase(CdcLakeSinkProvider.ShortName)))
          Some(ct)
        else None
      } catch { case _: Exception => None }
    }
  }

  /** The relation options a catalog-synced cdc-lake table was registered
    * with (`path` falls back to the storage location for entries whose
    * option map lost it).
    */
  private[sources] def lakeParams(ct: CatalogTable): Map[String, String] = {
    val props = ct.storage.properties
    if (props.contains("path")) props
    else props ++ ct.storage.locationUri.map(u => "path" -> u.toString)
  }

  /** A parse-time `TIMESTAMP AS OF` operand, rendered for the
    * `timestampAsOf` read option: a string literal passes through
    * (epoch millis or 'yyyy-MM-dd HH:mm:ss[.SSS]', see
    * [[graft.lake.LakeTable.parseInstantMillis]]); a typed timestamp
    * literal converts its micros. Anything non-literal is rejected
    * loudly — time travel must pin a state the user can name.
    */
  private def instantParam(e: Expression): String = e match {
    case l: Literal => l.dataType match {
      case StringType => String.valueOf(l.value)
      case TimestampType | TimestampNTZType =>
        (l.value.asInstanceOf[Long] / 1000L).toString
      case other => throw new UnsupportedOperationException(
        s"cdc-lake TIMESTAMP AS OF takes a string or timestamp literal, got " +
          s"${other.simpleString(10)}: ${e.sql}")
    }
    case other => throw new UnsupportedOperationException(
      s"cdc-lake TIMESTAMP AS OF takes a literal instant, got: ${other.sql}")
  }
}

/** `PARTITIONED BY (p)` / `DataFrameWriter.partitionBy("p")` on a
  * cdc-lake CREATE / CTAS / saveAsTable: Spark
  * records the partitioning in the CATALOG but never hands it to a v1
  * CreatableRelationProvider — without this rule the data path silently
  * makes a PLAIN table under a catalog entry claiming partitions. This post-hoc
  * rule maps the declaration onto the `partitionCol` OPTION the write
  * path honors ([[LakeHandles.fromOptions]]) on the converted v1
  * commands, which BOTH routes produce — SQL text AND the programmatic
  * DataFrameWriter (which never touches the parser; a parse-time rewrite
  * alone left that route silently plain). Multi-column
  * declarations map onto the comma-joined option (the nested
  * composite layout, column order = nesting order); a conflicting
  * explicit option is loud — transform partitioning is already rejected
  * by Spark's own v1 conversion.
  * Non-lake providers pass through. The path-only route
  * (`df.write.partitionBy(...).format("cdc-lake").save()`) is covered
  * separately: DataFrameWriter ships `__partition_columns` in the
  * options, which fromOptions reads.
  */
class LakeCreateTableRule(session: SparkSession) extends Rule[LogicalPlan] {
  private def inject(table: CatalogTable): CatalogTable = {
    if (!table.provider.exists(_.equalsIgnoreCase(CdcLakeSinkProvider.ShortName)) ||
        table.partitionColumnNames.isEmpty) return table
    // multi-column PARTITIONED BY maps onto the comma-joined
    // partitionCol declaration (ComplexKeyGenerator partition-path
    // parity) — column ORDER is the nesting order.
    val declared = table.partitionColumnNames.mkString(",")
    table.storage.properties.collectFirst {
      case (k, v) if k.equalsIgnoreCase("partitionCol") => v
    } match {
      case Some(v) if v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          .zipAll(table.partitionColumnNames, "", "")
          .forall { case (a, b) => a.equalsIgnoreCase(b) } => table
      case Some(v) => throw new UnsupportedOperationException(
        s"cdc-lake: PARTITIONED BY ($declared) conflicts with the " +
          s"partitionCol option ('$v')")
      case None => table.copy(storage = table.storage.copy(
        properties = table.storage.properties + ("partitionCol" -> declared)))
    }
  }
  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case c: CreateDataSourceTableAsSelectCommand =>
      val t2 = inject(c.table)
      if (t2 eq c.table) c else c.copy(table = t2)
    case c: CreateDataSourceTableCommand =>
      val t2 = inject(c.table)
      if (t2 eq c.table) c else c.copy(table = t2)
    case other => other
  }
}

/** SQL maintenance procedures over catalog-synced cdc-lake tables —
  * Hudi's spark-sql `CALL` parity. Every
  * procedure takes `table => '<name>'` (or the table name as the one
  * positional argument) and runs the SAME Scala APIs the operational
  * docs describe, then re-syncs the catalog entry (a rollback can move
  * the stored schema BACKWARD; every mutation invalidates the cached
  * version-pinned relation):
  *
  *  - `run_compaction(table)` — fold MOR delta stacks / multi-file
  *    groups ([[LakeTable.compact]]); both layouts.
  *  - `run_clustering(table[, columns => 'a,b'])` — rewrite every live
  *    file group Z-ordered on 2-4 numeric columns (Hudi's
  *    `run_clustering` + sort.columns): the compaction rewrite through a
  *    zorderBy-configured handle, so files tile the Morton curve and
  *    file-level column stats prune range predicates AFTER the fact —
  *    the write-time `zorderBy` option retrofitted to existing data.
  *    `columns` defaults to the table's declared zorderBy; loud when
  *    neither names any.
  *  - `run_vacuum(table[, keep_versions => n][, older_than =>
  *    '<instant>'])` — snapshot retention ([[LakeTable.vacuum]] /
  *    `vacuumBefore`); returns the number of data dirs removed.
  *  - `rollback_to_instant(table, version => n)` — restore; partitioned
  *    tables take a JSON vector `version => '{"eu": 2}'` and restore
  *    each named partition.
  *  - `create_savepoint(table, version => n)` /
  *    `delete_savepoint(table, version => n)` / `show_savepoints(table)`
  *    — pin versions against vacuum; partitioned tables take the same
  *    JSON vector shape as rollback (`version => '{"eu": 2}'`, each
  *    named partition pinned independently) and show_savepoints
  *    returns (partition, version) rows, partition null on plain tables.
  *  - `show_commits(table)` — (partition, version, commit_id,
  *    commit_time_ms) rows, newest first.
  *  - `show_partitions(table)` — committed partition values.
  *  - `drop_partitions(table, partitions => 'a,b')` — partition-level
  *    retention; partitioned tables.
  */
case class LakeCallCommand(proc: String, args: Seq[Expression])
    extends LeafRunnableCommand {

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"cdc-lake CALL $proc: $msg")

  /** All-digits version strings route through here: a digit string past
    * Long range must fail the procedure contract's way, not escape as a
    * raw NumberFormatException.
    */
  private def parseVersion(v: String): Long =
    try v.toLong
    catch { case _: NumberFormatException => fail(s"version out of range: $v") }

  override def output: Seq[Attribute] = proc match {
    case "show_commits" => Seq(
      AttributeReference("partition", StringType)(),
      AttributeReference("version", LongType)(),
      AttributeReference("commit_id", StringType)(),
      AttributeReference("commit_time_ms", LongType)())
    case "show_savepoints" => Seq(
      AttributeReference("partition", StringType)(),
      AttributeReference("version", LongType)())
    case "show_partitions" =>
      Seq(AttributeReference("partition", StringType)())
    case "run_vacuum" | "drop_partitions" =>
      Seq(AttributeReference("removed", LongType)())
    case "rollback_to_instant" =>
      Seq(AttributeReference("restored_version", StringType)())
    case _ => Seq(AttributeReference("result", StringType)())
  }

  /** Literal argument map: named args keep their (lowercased) names,
    * a single leading positional argument is the table name.
    */
  private def argMap: Map[String, Any] = {
    def valueOf(e: Expression): Any = e match {
      case l: Literal => l.value match {
        case s: org.apache.spark.unsafe.types.UTF8String => s.toString
        case i: java.lang.Integer => i.longValue()
        case other => other
      }
      case other => fail(s"arguments must be literals, got: ${other.sql}")
    }
    val named = args.collect {
      case n: NamedArgumentExpression =>
        n.key.toLowerCase(java.util.Locale.ROOT) -> valueOf(n.value)
    }
    val positional = args.filterNot(_.isInstanceOf[NamedArgumentExpression])
    val posTable = positional match {
      case Seq() => Nil
      case Seq(one) if !named.exists(_._1 == "table") => Seq("table" -> valueOf(one))
      case _ => fail("only `table` may be positional — name the rest (k => v)")
    }
    val all = named ++ posTable
    if (all.map(_._1).distinct.size != all.size) fail("duplicate arguments")
    all.toMap
  }

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map {
      case s: String => s
      case other => fail(s"'$k' must be a string, got: $other")
    }

  /** Savepoint create/release dispatch on the `version` shape — the
    * SAME integer-vs-JSON-vector routing as rollback_to_instant:
    * plain tables take an integer, partitioned tables a vector pinning
    * each named partition independently (each partition is its own
    * versioned table — a scalar cannot address one). Unknown partitions
    * are loud; returns the rendered version for the result row.
    */
  private def savepointOp(
      m: Map[String, Any],
      handle: LakeHandle)(
      op: (LakeTable, Long) => Unit): String =
    (m.get("version"), handle) match {
      case (Some(v: Long), t: LakeTable) => op(t, v); v.toString
      case (Some(v: String), t: LakeTable) if v.nonEmpty && v.forall(_.isDigit) =>
        op(t, parseVersion(v)); v
      case (Some(v: String), pt: PartitionedLakeTable) if v.trim.startsWith("{") =>
        val vec = VectorOffset.parse(v)
        if (vec.isEmpty) fail("empty version vector")
        val missing = vec.keySet -- pt.partitions.toSet
        if (missing.nonEmpty) fail(
          s"unknown partitions: ${missing.toSeq.sorted.mkString(", ")}")
        vec.toSeq.sortBy(_._1).foreach { case (p, ver) =>
          op(pt.partitionTable(p), ver)
        }
        v
      case (Some(_), _: PartitionedLakeTable) => fail(
        "a partitioned table takes a JSON vector: version => '{\"<partition>\": <n>}'")
      case (Some(v), _) => fail(s"version must be an integer, got: $v")
      case (None, _) => fail("missing `version` argument")
    }
  private def num(m: Map[String, Any], k: String): Option[Long] =
    m.get(k).map {
      case l: Long => l
      case other => fail(s"'$k' must be an integer, got: $other")
    }

  override def run(session: SparkSession): Seq[Row] = {
    val m = argMap
    val tableName = str(m, "table").getOrElse(fail("missing `table` argument"))
    val ident = session.sessionState.sqlParser.parseTableIdentifier(tableName)
    val ct = session.sessionState.catalog.getTableMetadata(ident)
    if (!ct.provider.exists(_.equalsIgnoreCase(CdcLakeSinkProvider.ShortName)))
      fail(s"$tableName is not a cdc-lake table (provider: ${ct.provider})")
    val handle = LakeHandles.fromOptions(session, LakeSqlRewrites.lakeParams(ct))

    def unknownArgs(known: String*): Unit = {
      val extra = m.keySet - "table" -- known
      if (extra.nonEmpty) fail(s"unknown arguments: ${extra.toSeq.sorted.mkString(", ")}")
    }

    val out: Seq[Row] = proc match {
      case "run_compaction" =>
        unknownArgs()
        handle.compact()
        Seq(Row("compacted"))
      case "run_clustering" =>
        unknownArgs("columns")
        // The compaction rewrite through a zorderBy-override handle: the
        // write path already range-partitions + sorts on the Morton code
        // when the handle declares clustering, so "re-cluster existing
        // data" is exactly compact() with the sort columns injected —
        // ONE mechanism, no second rewrite path to drift.
        val cols = str(m, "columns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(handle.zorderBy match {
            case Seq() => fail(
              "missing `columns` argument (2-4 numeric columns, comma-" +
                "separated) and the table declares no zorderBy")
            case zs => zs
          })
        ZOrder.invalid(cols).foreach(e => fail(s"clustering $e"))
        // Validate BEFORE the table-wide rewrite starts (the rest of the
        // procedure surface fails loudly up front): a missing or
        // lane-less column would otherwise cluster on nulls deep inside
        // compact().
        val stored = handle.snapshot.schema
        cols.foreach { c =>
          val f = stored.find(_.name.equalsIgnoreCase(c)).getOrElse(
            fail(s"unknown clustering column '$c' — table columns: " +
              stored.fieldNames.mkString(", ")))
          if (!ZOrder.laneable(f.dataType))
            fail(s"clustering column '$c' is ${f.dataType.simpleString} — " +
              "Z-ordering takes numeric, timestamp, date, or string columns")
        }
        LakeHandles.fromOptions(
          session,
          LakeSqlRewrites.lakeParams(ct) + ("zorderBy" -> cols.mkString(",")))
          .compact()
        Seq(Row(s"clustered on ${cols.mkString(",")}"))
      case "run_vacuum" =>
        unknownArgs("keep_versions", "older_than")
        val removed = (num(m, "keep_versions"), str(m, "older_than")) match {
          case (Some(_), Some(_)) =>
            fail("pass keep_versions OR older_than, not both")
          case (_, Some(instant)) =>
            val cutoff = LakeTable.parseInstantMillis(instant)
            handle.vacuumBefore(cutoff)
          case (keep, None) =>
            handle.vacuum(keep.getOrElse(1L).toInt)
        }
        Seq(Row(removed.toLong))
      case "rollback_to_instant" =>
        unknownArgs("version")
        val restored = (m.get("version"), handle) match {
          case (Some(v: Long), t: LakeTable) => t.restoreTo(v).toString
          case (Some(v: String), t: LakeTable) if v.forall(_.isDigit) && v.nonEmpty =>
            t.restoreTo(parseVersion(v)).toString
          case (Some(v: String), pt: PartitionedLakeTable) if v.trim.startsWith("{") =>
            val vec = VectorOffset.parse(v)
            if (vec.isEmpty) fail("empty version vector")
            val existing = pt.partitions.toSet
            val missing = vec.keySet -- existing
            if (missing.nonEmpty) fail(
              s"unknown partitions: ${missing.toSeq.sorted.mkString(", ")}")
            VectorOffset(
              vec.map { case (p, ver) => p -> pt.partitionTable(p).restoreTo(ver) })
              .json()
          case (Some(_), _: PartitionedLakeTable) => fail(
            "a partitioned table takes a JSON vector: version => '{\"<partition>\": <n>}'")
          case (Some(v), _) => fail(s"version must be an integer, got: $v")
          case (None, _) => fail("missing `version` argument")
        }
        Seq(Row(restored))
      case "create_savepoint" =>
        unknownArgs("version")
        Seq(Row(s"savepoint at ${savepointOp(m, handle)(_.savepoint(_))}"))
      case "delete_savepoint" =>
        unknownArgs("version")
        Seq(Row(
          s"released savepoint at ${savepointOp(m, handle)(_.releaseSavepoint(_))}"))
      case "show_savepoints" =>
        unknownArgs()
        handle match {
          case pt: PartitionedLakeTable => pt.partitions.flatMap(p =>
            pt.partitionTable(p).savepoints.map(v => Row(p, v)))
          case t: LakeTable => t.savepoints.sorted.map(v => Row(null, v))
        }
      case "show_partitions" =>
        unknownArgs()
        handle match {
          case pt: PartitionedLakeTable => pt.partitions.map(Row(_))
          case _ => fail("show_partitions needs a partitioned table")
        }
      case "show_commits" =>
        unknownArgs()
        val rows = handle match {
          case pt: PartitionedLakeTable => pt.partitions.flatMap(p =>
            pt.partitionTable(p).commitTimes().map { case (v, t) =>
              Row(p, v, pt.partitionTable(p).commitIdOf(v).orNull, t)
            })
          case t: LakeTable => t.commitTimes().map { case (v, tm) =>
            Row(null, v, t.commitIdOf(v).orNull, tm)
          }
        }
        rows.sortBy(r => (Option(r.getString(0)).getOrElse(""), -r.getLong(1)))
      case "drop_partitions" =>
        unknownArgs("partitions")
        val parts = str(m, "partitions")
          .getOrElse(fail("missing `partitions` argument"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val dropped = handle match {
          case pt: PartitionedLakeTable => pt.dropPartitions(parts)
          case _ => fail("drop_partitions needs a partitioned table")
        }
        Seq(Row(dropped.toLong))
      case other => fail(s"unknown procedure '$other'") // unreachable (parser gate)
    }

    // Post-mutation catalog upkeep (harmless after the read-only
    // procedures): a rollback can move the stored schema BACKWARD, and
    // every new version invalidates the cached version-pinned relation.
    LakeMergeInto.syncCatalogSchema(session, ct, handle.snapshot.schema)
    out
  }
}
