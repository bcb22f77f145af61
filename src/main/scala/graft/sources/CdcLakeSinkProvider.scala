package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graft.StreamBatch
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.cdc.CdcSyncCommand
import graft.lake.{LakeHandle, LakeTable, PartitionedLakeTable}

/** Streaming sink registration (reference operators S2/S3,
  * `/root/reference/src/main/java/org/apache/spark/sql/hudi/sources/BinlogHoodieDataSource.scala:24-35`
  * and `BinlogHoodieSink.scala:12-21`): a `DataSourceRegister` shortname so
  * users can `writeStream.format("cdc-lake")`, plus a v1 `Sink` whose
  * `addBatch` hands each micro-batch to [[graft.cdc.CdcSyncCommand]].
  *
  * Registered via
  * `META-INF/services/org.apache.spark.sql.sources.DataSourceRegister`.
  * Output mode is accepted and ignored — the sink always merges
  * (last-write-wins upsert + delete routing), same as the reference
  * (`README.md:49`, mode stored unused at `BinlogHoodieSink.scala:12-16`).
  * Unlike the reference, `batchId` is propagated for idempotent replay.
  */
class CdcLakeSinkProvider extends StreamSinkProvider
    with StreamSourceProvider
    with CreatableRelationProvider with RelationProvider
    with SchemaRelationProvider with DataSourceRegister {

  override def shortName(): String = CdcLakeSinkProvider.ShortName

  /** Streaming incremental read (see [[LakeIncrementalSource]]):
    * `spark.readStream.format("cdc-lake").option("path", p).load()`.
    * The schema comes from the table's current snapshot — the table must
    * have at least one commit when the stream starts (a user-specified
    * schema is rejected: rows are whatever the lake holds).
    */
  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "cdc-lake readStream derives its schema from the lake table; drop .schema(...)")
    (CdcLakeSinkProvider.ShortName,
      new LakeIncrementalSource(sqlContext, parameters).schema)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new LakeIncrementalSource(sqlContext, parameters)

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    // Partitioning is configured per table (`<db>.<table>.partition.field`),
    // not per stream: silently accepting .partitionBy would land data
    // unpartitioned while the user relies on pruning that never happens.
    require(
      partitionColumns.isEmpty,
      s"cdc-lake ignores writeStream.partitionBy (got ${partitionColumns.mkString(",")}); " +
        "use the per-table <db>.<table>.partition.field option instead")
    new CdcLakeSink(parameters)
  }

  /** Batch write parity — TWO shapes share the format:
    *
    *  - **CDC envelope batches** (reference E2,
    *    `BinlogSyncHoodieCommand.scala:231-234`): a single string
    *    envelope column — `envelopes.write.format("cdc-lake")
    *    .options(cfg).save()` runs one CDC merge batch (SaveMode
    *    ignored; the sink always merges, like the streaming path).
    *  - **Direct lake rows** (what SQL `CREATE TABLE ... AS SELECT` and
    *    plain `df.write` produce): the lake contract columns present →
    *    the native LWW upsert through a config-matched handle, exactly
    *    `INSERT INTO` semantics (null-contract guard included).
    *    `SaveMode.Overwrite` is rejected like `INSERT OVERWRITE`.
    *
    * Anything else fails LOUDLY: parsing the FIRST column of any batch
    * as envelope JSON would make a CTAS of plain rows drop every
    * "malformed" row and commit NOTHING — a successful-looking statement
    * leaving an empty table.
    */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val cols = data.columns
    if (cols.contains(LakeTable.KeyCol) && cols.contains(LakeTable.TsCol)) {
      val rel = new LakeSnapshotRelation(sqlContext, parameters)
      // CTAS hands SaveMode.Overwrite even for a brand-new table — with
      // nothing committed there is nothing to overwrite, so it degrades
      // to the plain first write; Overwrite of EXISTING state stays
      // rejected (the INSERT OVERWRITE contract).
      require(mode != SaveMode.Overwrite || rel.neverWritten,
        "cdc-lake batch write: SaveMode.Overwrite over existing data is " +
          "not supported — the write runs the native LWW upsert (for " +
          "truncate-and-load use delete + upsert or restoreTo)")
      rel.mergeWrite(Some(data), None)
    } else if (cols.length == 1 &&
        data.schema.head.dataType == org.apache.spark.sql.types.StringType) {
      // The BATCH envelope path defaults to STRICT parsing:
      // the streaming sink's drop-malformed default protects a live CDC
      // feed from one poison record, but here a `CTAS ... AS SELECT name
      // FROM users` (one string column that merely LOOKS like the
      // envelope shape) would silently drop every row and commit an
      // empty table — the same bug class the shape dispatch above closes.
      // An explicit `option.onmalformed=drop` restores the lenient mode.
      val params =
        if (parameters.contains(CdcSyncCommand.OnMalformedKey)) parameters
        else parameters + (CdcSyncCommand.OnMalformedKey -> "fail")
      CdcSyncCommand.run(data, params,
        batchId = parameters.get("batchId").map(_.toLong).getOrElse(-1L))
    } else {
      throw new IllegalArgumentException(
        s"cdc-lake batch write takes a single-string-column CDC envelope " +
          s"batch or rows carrying the lake contract columns " +
          s"('${LakeTable.KeyCol}', '${LakeTable.TsCol}') — got " +
          s"(${cols.mkString(", ")})")
    }
    new LakeSnapshotRelation(sqlContext, parameters)
  }

  /** Batch read: `spark.read.format("cdc-lake").option("path", p).load()`
    * returns the lake table's current snapshot.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    new LakeSnapshotRelation(sqlContext, parameters)

  /** Schema-carrying read — what makes `CREATE TABLE t (cols...)
    * USING cdc-lake` declare an EMPTY lake table that `INSERT INTO`
    * then bootstraps: a never-written table has no stored schema to
    * infer, so without this route the declared-first lifecycle was
    * impossible (Spark's RelationProvider+schema branch demands the
    * inferred schema equal the declared one — zero columns never
    * match). On a COMMITTED table the stored schema is authoritative
    * and a same-type declared schema passes through (nullability-only
    * drift tolerated); a genuinely different declaration fails loudly
    * rather than silently reading different columns than asked for.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    new LakeSnapshotRelation(sqlContext, parameters, Some(schema))
}

/** Current-snapshot relation over a LakeTable OR PartitionedLakeTable dir
  * (layout self-detected from `_table.json`, like the streaming source).
  *
  * v1 `PrunedFilteredScan`: Spark hands the relation the
  * required columns and the conjunctive pushable filters, and we apply BOTH
  * to the snapshot DataFrame *before* `.rdd` — so the parquet scan under
  * the relation reads only the projected columns (`ReadSchema`) and
  * receives the predicates (`PushedFilters`/dataFilters), instead of the
  * old `TableScan` full-schema full-scan row bounce. Two routes prune
  * before any file I/O:
  *
  *  - plain tables: an `EqualTo`/`In` filter on `_key` dispatches to
  *    [[LakeTable.lookup]] — bucket pruning by key hash + per-bucket bloom
  *    sidecar skip, the Hudi bloom-index point-read shape;
  *  - partitioned tables: an `EqualTo`/`In` filter on the partition
  *    column opens only those partition dirs
  *    ([[PartitionedLakeTable.snapshot(values*)]]).
  *
  * Filters we can translate are reported handled (Spark does not re-apply
  * them); anything untranslatable stays above the relation.
  */
class LakeSnapshotRelation(
    ctx: SQLContext,
    parameters0: Map[String, String],
    declaredSchema: Option[StructType] = None) extends BaseRelation
    with PrunedFilteredScan with InsertableRelation {

  // Case-insensitive option resolution on EVERY construction route: the
  // DataSource routes already hand a CaseInsensitiveMap, but the
  // time-travel parser rewrite hands the RAW catalog
  // storage.properties — without the wrap an option keyed `versionasof`
  // or `querytype` would silently not apply on that route only.
  private val parameters: Map[String, String] =
    org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(parameters0)

  // Lazy: the batch-WRITE path returns this relation constructed from the
  // sink options (no single `path`); only an actual read needs one.
  private lazy val path = parameters.getOrElse("path",
    throw new IllegalArgumentException("cdc-lake read requires a path option"))
  private lazy val buckets =
    parameters.get("buckets").map(_.toInt).getOrElse(LakeTable.DefaultNumBuckets)

  // ONE table handle + VERSION(S) pinned for the relation's lifetime:
  // separate reads for schema and buildScan could observe different
  // committed versions under a concurrent writer (e.g. an int->long
  // widening between planning and execution -> Row/schema mismatch at
  // runtime), and a routed read (key lookup / partition prune) resolving
  // a NEWER version than the full-scan path would let one query mix two
  // committed states. Every route below reads the pinned
  // version(s); new commits become visible to NEW relation instances
  // (catalog sync re-registers per CDC batch; ad-hoc readers
  // `REFRESH TABLE`).
  private lazy val opened: LakeHandle = LakeHandles.open(ctx.sparkSession, path, buckets)

  // Time travel (Hudi's `as.of.instant` read shape): `versionAsOf` pins
  // an EXPLICIT committed version instead of latest — a version number
  // for plain tables, a JSON object `{partition: version}` (the
  // VectorOffset wire shape) for partitioned ones. Validation is loud:
  // a wrong-shaped value throws here and an unknown/vacuumed version
  // throws in `snapshotAt` — time travel must never silently read a
  // different state than the one asked for.
  private lazy val requestedVersion: Option[String] =
    parameters.get("versionAsOf").map { v =>
      require(!parameters.contains("timestampAsOf"),
        "versionAsOf and timestampAsOf are mutually exclusive")
      v.trim
    }

  // `timestampAsOf` (Hudi `as.of.instant`): epoch millis or a
  // 'yyyy-MM-dd HH:mm:ss[.SSS]' UTC instant, resolved ONCE here into the
  // same pinned version(s) the versionAsOf path uses — per partition for
  // partitioned tables (each partition resolves independently, so a
  // partition born after the instant is simply absent). A timestamp
  // before the table's first commit reads the legitimate point-in-time
  // answer: an empty table. Wrong shapes throw loudly.
  private lazy val requestedTimestamp: Option[Long] =
    parameters.get("timestampAsOf").map { raw =>
      require(requestedVersion.isEmpty,
        "versionAsOf and timestampAsOf are mutually exclusive")
      LakeTable.parseInstantMillis(raw)
    }

  private lazy val pinnedVersion: Option[Long] = opened match {
    case t: LakeTable => requestedVersion match {
      case Some(v) =>
        require(v.nonEmpty && v.forall(_.isDigit),
          s"versionAsOf on a plain lake table takes a version number, got '$v'")
        Some(v.toLong)
      case None => requestedTimestamp match {
        case Some(ts) => t.versionAt(ts) // None -> pinnedEmpty
        case None => t.latestVersion
      }
    }
    case _ => None
  }
  private lazy val pinnedVector: Map[String, Long] = opened match {
    case pt: PartitionedLakeTable => requestedVersion match {
      case Some(v) =>
        require(v.startsWith("{"),
          "versionAsOf on a partitioned lake table takes a JSON object " +
            s"{partition: version}, got '$v'")
        val vec = VectorOffset.parse(v)
        require(vec.nonEmpty, s"versionAsOf vector is empty: '$v'")
        vec
      case None => requestedTimestamp match {
        case Some(ts) => pt.versionsAt(ts)
        case None => pt.currentVersions
      }
    }
    case _ => Map.empty
  }

  // Emptiness is pinned too: with no committed version at
  // relation creation there is nothing to pin a version against, and
  // falling back to resolve-latest-at-execution would let a commit landing
  // between planning and scan re-open the cross-route version-mix window
  // the pin exists to close. An empty-at-pin relation stays empty.
  private lazy val pinnedEmpty: Boolean = opened match {
    case _: PartitionedLakeTable => pinnedVector.isEmpty
    case _ => pinnedVersion.isEmpty
  }

  // Hudi `hoodie.datasource.query.type` shape: `snapshot` (default,
  // real-time — MOR delta stacks merged) or `read_optimized` (base file
  // groups only, COW scan cost, bounded staleness). Read-optimized is a
  // LATEST-state view — combining it with time travel would name a state
  // that never existed as a fold, so that's loud.
  private lazy val readOptimized: Boolean =
    parameters.get("queryType")
      .orElse(parameters.get("hoodie.datasource.query.type"))
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("snapshot") => false
      case Some("read_optimized") =>
        require(
          !parameters.contains("versionAsOf") && !parameters.contains("timestampAsOf"),
          "queryType=read_optimized is a latest-state view — drop versionAsOf/timestampAsOf")
        true
      case Some(bad) => throw new IllegalArgumentException(
        s"queryType must be snapshot|read_optimized, got '$bad'")
    }

  // `snapshotMode=refresh`: re-resolve the LATEST committed
  // version on EVERY buildScan instead of pinning at relation creation —
  // the stream-static enrichment contract. A streaming query analyzes
  // its plan ONCE, so a pinned dim-side relation would join every
  // micro-batch against the table as of query start, silently ignoring
  // upserts for the stream's whole lifetime; refresh mode re-pins per
  // SCAN (each micro-batch still reads ONE consistent version — the
  // per-call relation pins exactly like this one does). Loud on
  // mid-stream schema widening (the LakeIncrementalSource contract: a
  // widened Row under a fixed analyzed schema would corrupt, so
  // restart the query) and incompatible with time travel /
  // read-optimized (those ARE pins).
  private lazy val refreshPerScan: Boolean =
    parameters.get("snapshotMode")
      .map(_.trim.toLowerCase(java.util.Locale.ROOT)) match {
      case None | Some("pinned") => false
      case Some("refresh") =>
        require(
          requestedVersion.isEmpty && requestedTimestamp.isEmpty && !readOptimized,
          "snapshotMode=refresh re-resolves latest per scan — drop " +
            "versionAsOf/timestampAsOf/read_optimized (those pin a state)")
        true
      case Some(bad) => throw new IllegalArgumentException(
        s"snapshotMode must be pinned|refresh, got '$bad'")
    }

  private lazy val snapshot: DataFrame =
    if (pinnedEmpty)
      // A DECLARED schema (the SchemaRelationProvider route) gives
      // a never-written table its read/INSERT shape — the declare-first
      // `CREATE TABLE t (cols...)` lifecycle; undeclared empties stay
      // zero-column as before.
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[Row],
        declaredSchema.getOrElse(new StructType()))
    else {
      val stored =
        if (readOptimized) opened.snapshotReadOptimized
        else opened match {
          case pt: PartitionedLakeTable => pt.snapshotAt(pinnedVector)
          case t: LakeTable => t.snapshotAt(pinnedVersion.get)
        }
      // The STORED schema is authoritative once anything committed; a
      // same-type declaration passes (nullability-only drift tolerated —
      // catalogs flip it routinely), a different one is loud: silently
      // serving different columns than declared is the one thing a
      // schema-carrying read must never do.
      declaredSchema
        .filterNot(d => org.apache.spark.sql.graft.Types.sameIgnoreNullability(stored.schema, d))
        .foreach { d =>
          throw new IllegalArgumentException(
            s"cdc-lake: the declared schema (${d.simpleString}) does not match " +
              s"the stored schema (${stored.schema.simpleString}) at $path — " +
              "drop the explicit schema or migrate with ALTER TABLE")
        }
      stored
    }

  override def sqlContext: SQLContext = ctx
  override def schema: StructType = snapshot.schema

  private def colRef(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  /** Spark `Filter` -> `Column` translation; None = cannot push (Spark
    * keeps it above the relation via [[unhandledFilters]]).
    */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(colRef(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(colRef(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(colRef(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(colRef(a) >= lit(v))
    case LessThan(a, v)           => Some(colRef(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(colRef(a) <= lit(v))
    case In(a, vs)                => Some(colRef(a).isInCollection(vs.toSeq))
    case IsNull(a)                => Some(colRef(a).isNull)
    case IsNotNull(a)             => Some(colRef(a).isNotNull)
    case StringStartsWith(a, v)   => Some(colRef(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(colRef(a).endsWith(v))
    case StringContains(a, v)     => Some(colRef(a).contains(v))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c)    => toColumn(c).map(!_)
    case _         => None
  }

  /** Literal key values named by a top-level conjunct on `column` — the
    * prune hint for the lookup / partition-pruned routes. None when no
    * conjunct constrains the column to a finite set.
    */
  private def equalityValues(filters: Array[Filter], column: String): Option[Seq[Any]] =
    filters.collectFirst {
      case EqualTo(a, v) if a == column && v != null => Seq(v)
      case In(a, vs) if a == column && vs.nonEmpty && !vs.contains(null) => vs.toSeq
    }

  override def unhandledFilters(filters: Array[Filter]): Array[Filter] =
    filters.filter(f => toColumn(f).isEmpty)

  /** Conform a routed read to the pinned relation schema: a stable empty
    * frame when the route pruned everything away (an empty partition
    * match yields a zero-column DataFrame we cannot select from), plus
    * defensive widening-safe casts — with every route pinned to the
    * relation's version(s) the schemas already agree, so the casts are
    * belt-and-braces, not load-bearing.
    */
  private def conformed(df: DataFrame): DataFrame =
    if (df.columns.isEmpty)
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[Row], schema)
    else df.select(schema.fields.map(f => colRef(f.name).cast(f.dataType)): _*)

  /** The pruned+filtered snapshot DataFrame `buildScan` materializes —
    * factored out so PlanShapeSpec can assert the filters reach the
    * parquet scan (dataFilters non-empty, pruned ReadSchema).
    */
  def scanPlan(requiredColumns: Array[String], filters: Array[Filter]): DataFrame = {
    // Read-optimized reads take the ro snapshot on EVERY route — the
    // lookup/partition fast paths merge delta stacks (real-time
    // semantics) and mixing views within one relation would let a key
    // probe observe rows the full scan hides.
    val base: DataFrame = if (pinnedEmpty || readOptimized) snapshot else opened match {
      case table: LakeTable =>
        equalityValues(filters, LakeTable.KeyCol) match {
          case Some(keys) if keys.forall(_.isInstanceOf[String]) =>
            // Bucket+bloom point read (Hudi bloom-index shape), at the
            // relation's pinned version.
            conformed(table.lookup(keys.map(_.asInstanceOf[String]), pinnedVersion))
          case _ =>
            // Manifest column stats (tables written with `statsColumns`):
            // range/equality predicates skip whole buckets BEFORE any
            // file listing — None (no stats / nothing pruned) keeps the
            // shared cached snapshot plan.
            table.statsPrune(pinnedVersion.get, filters.toSeq) match {
              case Some(pruned) => conformed(pruned)
              case None => snapshot
            }
        }
      case pt: PartitionedLakeTable =>
        // Per-COMPONENT equality pruning (composite layouts too): each
        // partition column with a pushed string equality/IN constrains its
        // component of the identity — ANY constrained component prunes, a
        // prefix is not required (the identity list is already in hand via
        // the pinned vector, so matching is a bounded driver filter, no
        // listing). Route only STRING pushed values: the directory name is
        // Spark's cast-to-string of the partition value, which Java toString
        // of a typed literal (Timestamp, Decimal) need not match — a
        // mismatched name would silently prune matching rows away. Typed
        // partition columns fall through to the pinned full scan; the filter
        // still applies below. Column stats compose: within the named
        // partitions, buckets the recorded ranges exclude are skipped too.
        val perCol: Seq[Option[Set[String]]] = pt.partitionCols.map { c =>
          equalityValues(filters, c) match {
            case Some(values) if values.forall(_.isInstanceOf[String]) =>
              Some(values.map(_.asInstanceOf[String]).toSet)
            case _ => None
          }
        }
        if (perCol.exists(_.isDefined)) {
          val k = pt.partitionCols.size
          val vs = pinnedVector.keys.toSeq.filter { ident =>
            val comps = if (k == 1) Seq(ident) else ident.split("/", -1).toSeq
            comps.size == k && perCol.zip(comps).forall {
              case (Some(allowed), c) => allowed.contains(c)
              case (None, _) => true
            }
          }.sorted
          pt.statsPruneAt(pinnedVector, filters.toSeq, Some(vs)) match {
            case Some(pruned) => conformed(pruned)
            case None => conformed(pt.snapshotAt(vs, pinnedVector))
          }
        } else {
          pt.statsPruneAt(pinnedVector, filters.toSeq) match {
            case Some(pruned) => conformed(pruned)
            case None => snapshot
          }
        }
    }
    val filtered = filters.flatMap(toColumn).foldLeft(base)(_.filter(_))
    filtered.select(requiredColumns.map(colRef).toSeq: _*)
  }

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] =
    if (!refreshPerScan) scanPlan(requiredColumns, filters).rdd
    else {
      // fresh per-call relation = fresh pin at latest; all routes of THIS
      // scan stay version-consistent through its own pinning
      val fresh = new LakeSnapshotRelation(ctx, parameters - "snapshotMode", declaredSchema)
      require(fresh.schema == schema,
        s"cdc-lake snapshotMode=refresh: the stored schema changed under a " +
          s"running query (was $schema, now ${fresh.schema}) — a widened row " +
          "under the fixed analyzed schema would corrupt; restart the query")
      fresh.scanPlan(requiredColumns, filters).rdd
    }

  /** SQL write surface (a v1-expressible slice of the deferred DSv2
    * item): `INSERT INTO <catalog-synced cdc-lake table> ...` resolves to
    * this v1 `InsertableRelation`, and the batch runs the table's NATIVE
    * last-write-wins upsert — the same semantic Hudi gives spark-sql
    * `INSERT INTO` — so SQL writers and DataFrame writers produce
    * identical state (commit protocol, blooms, stats, MOR deltas via a
    * fold-on-touch cow commit, schema widening all included). Incoming
    * rows must carry the lake contract columns (`_key`, `_ts`). Partial
    * tables get a mode-matched handle (inferred from the manifest like
    * every reader). Rejected loudly: `INSERT OVERWRITE` (truncate-and-
    * load has no single-commit lake equivalent — use delete + upsert or
    * `restoreTo`) and writes through a time-travel / read-optimized
    * relation (a pinned historical view must never accept new rows).
    */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(!overwrite,
      "cdc-lake INSERT OVERWRITE is not supported — INSERT INTO runs the " +
        "native LWW upsert; for truncate-and-load use delete + upsert or restoreTo")
    require(
      data.columns.contains(LakeTable.KeyCol) && data.columns.contains(LakeTable.TsCol),
      s"cdc-lake INSERT needs the lake contract columns " +
        s"('${LakeTable.KeyCol}', '${LakeTable.TsCol}') — got ${data.columns.mkString(",")}")
    // time-travel/read-optimized rejection and the in-plan null-contract
    // guard live in mergeWrite (shared with MERGE INTO)
    mergeWrite(Some(data), None)
  }

  /** Config-matched write handle: SQL writes must
    * not strip the table's writer configuration — a default handle would
    * drop statsColumns (the COW commit DELETES a touched bucket's stats
    * entry when its handle records none), Z-clustering, the MOR delta
    * path, and bloom sidecars. The relation's OPTIONS carry them
    * (`syncCatalog` registers each from the CDC TableConfig, and ad-hoc
    * `CREATE TABLE ... USING cdc-lake` can set them directly);
    * mergeMode is inferred from the stored manifest like every reader.
    */
  private def writeHandle: LakeHandle =
    LakeHandles.fromOptions(ctx.sparkSession, parameters + ("path" -> path))

  /** Exact key-membership probe for MERGE INTO's branch split — both
    * layouts (partitioned = bloom-pruned union over partitions,
    * global `_key` identity like the key-only delete fan-out). Probes
    * the relation's PINNED version(s): matched-ness, the
    * read-modify-write rows, and the NOT MATCHED BY SOURCE anti-join all
    * address ONE committed state — an out-of-band commit between relation
    * caching and execution can no longer split one MERGE across two
    * versions. `inPartitions` restricts a partitioned probe to the
    * partitions the source names in-band (the deleteRouted contract).
    */
  private[sources] def probeExistingKeys(
      keys: DataFrame, inPartitions: Option[Seq[String]] = None): DataFrame =
    if (pinnedEmpty) keys.select(LakeTable.KeyCol).limit(0)
    else opened match {
      case pt: PartitionedLakeTable => pt.probeKeys(keys, inPartitions, Some(pinnedVector))
      case t: LakeTable => t.probeKeys(keys, pinnedVersion)
    }

  /** Full target rows for a key set, conformed to the relation schema —
    * the read side of MERGE's read-modify-write (partial `UPDATE SET`
    * lists) and of target-referencing conditions/values; carries the
    * partition column on partitioned layouts (delete routing takes the
    * TARGET row's partition). Conforming matters on the empty-table edge
    * (zero-column probe result) and pins the column set to the schema
    * the merge resolved against. Same version pinning and partition
    * routing as [[probeExistingKeys]].
    */
  private[sources] def targetRowsForKeys(
      keys: DataFrame, inPartitions: Option[Seq[String]] = None): DataFrame =
    conformed(
      if (pinnedEmpty)
        ctx.sparkSession.createDataFrame(
          ctx.sparkSession.sparkContext.emptyRDD[Row], new StructType())
      else opened match {
        case pt: PartitionedLakeTable => pt.rowsForKeys(keys, inPartitions, Some(pinnedVector))
        case t: LakeTable => t.rowsForKeys(keys, pinnedVersion)
      })

  /** The partition columns (layout order) when this relation is a
    * partitioned layout; empty for plain tables.
    */
  private[sources] def partitionColumns: Seq[String] = opened.partitionCols

  /** The partitions `df` names in-band, for routing a probe: the
    * distinct partition identities of its rows, in one exchange-free job.
    * None (probe every partition) for a plain table, when `df` lacks a
    * partition column, or when any row is unroutable (see
    * [[PartitionedLakeTable.routableValues]]).
    */
  private[sources] def routedPartitions(df: DataFrame): Option[Seq[String]] = opened match {
    case pt: PartitionedLakeTable
        if pt.partitionCols.forall(p => df.columns.contains(p) && p != LakeTable.KeyCol) =>
      pt.routableValues(df)
    case _ => None
  }

  /** True iff no version has ever committed (the CTAS Overwrite gate). */
  private[sources] def neverWritten: Boolean = pinnedEmpty

  /** The LATEST stored user-facing schema (fresh manifest read, not the
    * relation's pinned one) — SQL write commands compare it with the
    * catalog entry after a write and re-register on widening, the same
    * contract the CDC catalog sync keeps (a stale catalog schema makes
    * every later read fail on the user-specified-vs-actual mismatch).
    */
  private[sources] def latestUserSchema: StructType = opened.snapshot.schema

  /** Native-write dispatch shared by SQL INSERT INTO and MERGE INTO:
    * upserts and deletes land in ONE `merge` commit when both are present
    * (upsert-then-delete-in-one-batch stays consistent), through a
    * mode-matched handle. Centralizes the write guards: no writes through a
    * pinned time-travel or read-optimized relation, and no null contract
    * columns — an in-plan raise_error on the `_ts` projection (a NULL-filled
    * INSERT column list, or a MERGE whose ON expression evaluates null, would
    * otherwise silently collapse rows into one null-key LWW group).
    */
  private[sources] def mergeWrite(ups: Option[DataFrame], dels: Option[DataFrame]): Unit = {
    require(
      requestedVersion.isEmpty && requestedTimestamp.isEmpty && !readOptimized,
      "cannot write through a time-travel or read-optimized cdc-lake relation")
    // Loud contract error BEFORE building the raise_error projection: a
    // MERGE/INSERT whose assignments omit the contract
    // columns would otherwise die on a generic unresolved-column message.
    ups.foreach(u => require(
      u.columns.contains(LakeTable.KeyCol) && u.columns.contains(LakeTable.TsCol),
      s"cdc-lake write needs the lake contract columns ('${LakeTable.KeyCol}', " +
        s"'${LakeTable.TsCol}') on every upserted row — got ${u.columns.mkString(",")}"))
    import org.apache.spark.sql.functions.{raise_error, when}
    val guarded = ups.map(u => u.withColumn(
      LakeTable.TsCol,
      when(
        col(LakeTable.KeyCol).isNull || col(LakeTable.TsCol).isNull,
        raise_error(lit(
          s"cdc-lake write: '${LakeTable.KeyCol}' and '${LakeTable.TsCol}' must be " +
            "non-null on every row (NULL-filled INSERT column list, or a MERGE ON " +
            "expression that evaluates null?)")))
        .otherwise(col(LakeTable.TsCol))))
    (guarded, dels) match {
      case (Some(u), Some(d)) => writeHandle.merge(u, d)
      case (Some(u), None) => writeHandle.upsert(u)
      case (None, Some(d)) => writeHandle match {
        // Partition-routed when the key set carries EVERY partition
        // column (MERGE takes them from the TARGET row) — only the named
        // partitions dispatch; otherwise the global bloom-pruned fan-out.
        case pt: PartitionedLakeTable =>
          if (pt.partitionCols.forall(d.columns.contains)) pt.deleteRouted(d)
          else pt.delete(d.select(LakeTable.KeyCol))
        case t: LakeTable => t.delete(d)
      }
      case (None, None) => ()
    }
  }
}

object CdcLakeSinkProvider {
  val ShortName = "cdc-lake"
}

/** Micro-batch dispatch (ref S3): convert the streaming DF to batch and run
  * the CDC merge command with the batch id.
  *
  * Commit-namespace resolution: a query checkpointed via
  * the SESSION conf (`spark.sql.streaming.checkpointLocation` + queryName)
  * resolves its checkpoint outside the options map, so the sink never sees
  * a `checkpointLocation` option and two such streams on one table would
  * collide on batch ids (stream B's batch 0 silently skipped as stream A's
  * replay). When neither an explicit namespace nor a checkpointLocation
  * option is present, `addBatch` looks up the active query driving THIS
  * sink instance and injects its resolved checkpoint root, so the
  * namespace is derived from wherever the checkpoint actually lives —
  * stable across restarts of the same query (public `StreamExecution`
  * accessors; one sink instance per query start, so `eq` identifies ours).
  */
class CdcLakeSink(parameters: Map[String, String]) extends Sink {

  // Resolved once: the owning query (and its checkpoint root) is fixed for
  // this sink instance's lifetime.
  private var resolved: Option[Map[String, String]] = None

  private def paramsFor(data: DataFrame): Map[String, String] = resolved.getOrElse {
    import org.apache.spark.sql.SparkSession
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val p =
      if (parameters.contains(CdcSyncCommand.CommitNamespaceKey) ||
          parameters.contains("checkpointLocation")) parameters
      else {
        // `data.sparkSession` is the stream's CLONED session whose
        // StreamingQueryManager has no registered queries — the query
        // registered itself in the manager of the session that called
        // start(), which in practice is the active/default session.
        val sessions =
          (Iterator(data.sparkSession) ++
            SparkSession.getActiveSession.iterator ++
            SparkSession.getDefaultSession.iterator)
        sessions.flatMap(_.streams.active.iterator).flatMap {
          case w: StreamingQueryWrapper if w.streamingQuery.sink eq this =>
            Some(parameters +
              ("checkpointLocation" -> w.streamingQuery.resolvedCheckpointRoot))
          case _ => None
        }.nextOption().getOrElse(parameters)
      }
    resolved = Some(p)
    p
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit =
    CdcSyncCommand.run(StreamBatch.toBatch(data), paramsFor(data), batchId)
}
