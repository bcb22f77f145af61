package graft.cdc

/** Per-table configuration resolution (reference
  * `/root/reference/src/main/java/org/apache/spark/sql/hudi/commands/BinlogSyncHoodieCommand.scala:128-139`
  * prefix maps, `:160-168` path templating, `:99-102` validation).
  *
  * Options are flat `Map[String, String]`:
  *  - `<db>.<table>.recordkey.field` — comma-separated composite key fields
  *    (required; mirrors `hoodie.datasource.write.recordkey.field`).
  *  - `<db>.<table>.path` — explicit table path (optional).
  *  - `option.lake.path` — path template with `{db}`/`{table}` placeholders,
  *    used when no explicit path is set (mirrors `option.hoodie.path`).
  *  - `<db>.<table>.transformer.sql` — optional `<SRC>` SQL transform
  *    (mirrors `hoodie.transformer.sql`).
  *  - `<db>.<table>.transformer.class` — optional
  *    [[graft.util.BatchTransformer]] implementation loaded reflectively
  *    (applied after the SQL transform if both are set).
  *  - `<db>.<table>.timestampFormat` — payload timestamp format override.
  *  - `<db>.<table>.buckets` — LakeTable bucket count (scale knob).
  *  - `<db>.<table>.files.per.bucket` — intra-bucket write parallelism
  *    (key-salted; raise together with buckets at scale).
  *  - `<db>.<table>.partition.field` — optional payload column to
  *    partition the lake table by (mirrors
  *    `hoodie.datasource.write.partitionpath.field`).
  *  - `<db>.<table>.keygen.class` — optional keygenerator DECLARATION
  *    (mirrors `hoodie.datasource.write.keygenerator.class`, README.md:59):
  *    Nonpartitioned / Simple / ComplexKeyGenerator validate the
  *    key+partition options against the derivation this engine performs;
  *    unknown classes fail loudly instead of being silently ignored.
  *  - `<db>.<table>.bloom.enable` — build bloom sidecars on write (default
  *    true; disable to trade `lookup()` key pruning for write latency).
  *  - `<db>.<table>.zorder.fields` — 2-4 comma-separated numeric payload
  *    columns: bucket files are written clustered by their Morton code,
  *    so parquet row-group stats prune N-D range predicates (3-4 column
  *    layouts scale each dimension by the commit's min/max first; mirrors
  *    `hoodie.clustering.plan.strategy.sort.columns`).
  *  - `<db>.<table>.compact.every` — inline compaction cadence: after
  *    every Nth micro-batch the table's bucket file groups are coalesced
  *    (0/absent = off; no Hudi synonym — Hudi has no COW file-group
  *    coalescing cadence key). Use with `write.operation=insert`, whose
  *    zero-shuffle loads accumulate small files by design.
  *  - `<db>.<table>.write.operation` — `upsert` (default) or `insert`:
  *    `insert` routes batches through [[graft.lake.LakeTable.bulkInsert]]
  *    (no LWW merge aggregation — the initial-load fast path; mirrors
  *    `hoodie.datasource.write.operation` insert/bulk_insert,
  *    `BinlogSyncHoodieCommand.scala:172-183`).
  *  - `<db>.<table>.dedup.tiebreak.field` — optional NUMERIC payload field
  *    breaking last-write-wins ties on equal envelope timestamps (compared
  *    numerically, greatest wins; mirrors choosing a precombine field).
  *    Without it ties fall back to the raw record JSON text, which orders
  *    lexicographically — deterministic but e.g. `"9" > "10"`.
  *  - `<db>.<table>.table.type` — `cow` (default) or `mor`
  *    (docs/MOR_DESIGN.md): `mor` absorbs small CDC batches as per-bucket
  *    delta logs instead of rewriting whole buckets — O(batch) write cost
  *    for sub-bucket-size triggers. Mirrors
  *    `hoodie.datasource.write.table.type` (COPY_ON_WRITE /
  *    MERGE_ON_READ accepted as synonyms, case-insensitive).
  *  - `<db>.<table>.compact.deltas` — MOR fold cadence: a commit touching
  *    a bucket whose delta stack has reached this depth rewrites the
  *    affected buckets' bases (default 8; the read-vs-write amplification
  *    knob — the synonym `hoodie.compact.inline.max.delta.commits` maps
  *    HERE, matching the key's Hudi role of MOR inline-compaction
  *    cadence).
  *  - `<db>.<table>.col.stats.columns` — comma-separated payload columns
  *    whose per-bucket min/max are recorded in the commit manifest's
  *    stats sidecar; range/equality reads skip whole buckets before any
  *    file open (mirrors Hudi's metadata-table col_stats,
  *    `hoodie.metadata.index.column.stats.column.list`).
  */
final case class TableConfig(
    db: String,
    table: String,
    recordKeyFields: Seq[String],
    path: String,
    transformerSql: Option[String],
    transformerClass: Option[String],
    timestampFormat: String,
    numBuckets: Int,
    filesPerBucket: Int,
    partitionField: Option[String],
    tiebreakField: Option[String],
    bloomEnable: Boolean,
    operation: String,
    zorderFields: Seq[String] = Nil,
    compactEvery: Int = 0,
    tableType: String = graft.lake.LakeTable.CowType,
    compactDeltas: Int = 8,
    /** Row-merge semantics: whole-row LWW (`overwrite`, the default) or
      * per-column newest-non-null (`partial`) — the reference's Hudi
      * `payload.class` knob; class-name values are translated. */
    mergeMode: String = graft.lake.LakeTable.OverwriteMode,
    /** Columns recorded as per-bucket min/max manifest stats (bucket
      * skipping for range reads; empty = off). */
    statsColumns: Seq[String] = Nil,
    /** Unrecognized `<db>.<table>.*` keys, prefix-stripped — the generic
      * passthrough the reference gets by merging the whole user option map
      * into the Hudi writer config (`BinlogSyncHoodieCommand.scala:128-139,
      * 160-183`). Surfaced to [[graft.util.ConfigAwareTransformer]] plugins
      * so an unanticipated per-table knob always has an escape hatch.
      */
    extras: Map[String, String] = Map.empty)

object TableConfig {

  val PathTemplateKey = "option.lake.path"
  /** Reference-compat alias for [[PathTemplateKey]]
    * (`BinlogSyncHoodieCommand.scala:40`). */
  val RefPathTemplateKey = "option.hoodie.path"
  /** Reference-compat GLOBAL transformer SQL (`BinlogSyncHoodieCommand
    * .scala:42`) — applies to every table without a per-table override. */
  val RefTransformerSqlKey = "hoodie.transformer.sql"
  val DbPlaceholder = "{db}"
  val TablePlaceholder = "{table}"
  val RecordKeySuffix = "recordkey.field"
  val DefaultNumBuckets = 16

  /** Our per-table suffix -> the reference's Hudi-config suffix (README.md
    * :47-58 shape). Native names win when both are present.
    */
  private val RefAliases: Map[String, String] = Map(
    RecordKeySuffix -> "hoodie.datasource.write.recordkey.field",
    "path" -> "hoodie.base.path",
    "dedup.tiebreak.field" -> "hoodie.datasource.write.precombine.field",
    "partition.field" -> "hoodie.datasource.write.partitionpath.field",
    "keygen.class" -> "hoodie.datasource.write.keygenerator.class",
    "zorder.fields" -> "hoodie.clustering.plan.strategy.sort.columns",
    // Hudi's inline.max.delta.commits key only governs MOR compaction
    // upstream, so it aliases the MOR fold cadence — NOT compact.every's
    // COW file-group coalescing, which has no Hudi counterpart.
    "compact.deltas" -> "hoodie.compact.inline.max.delta.commits",
    "table.type" -> "hoodie.datasource.write.table.type",
    // Hudi expresses merge semantics as a payload CLASS; resolve()
    // translates the class names to our merge.mode values.
    "merge.mode" -> "hoodie.datasource.write.payload.class",
    "col.stats.columns" -> "hoodie.metadata.index.column.stats.column.list")

  private val Recognized: Set[String] = Set(
    RecordKeySuffix, "path", "transformer.sql", "transformer.class",
    "timestampFormat", "buckets", "files.per.bucket", "partition.field",
    "dedup.tiebreak.field", "bloom.enable", "write.operation",
    "keygen.class", "zorder.fields", "compact.every", "table.type",
    "compact.deltas", "merge.mode", "col.stats.columns") ++ RefAliases.values

  /** Resolve config for one `(db, table)`; throws with the reference's
    * error shapes when required pieces are missing (`:130`, `:165-166`,
    * `:253-255`). Accepts the reference's own option names as synonyms
    * (zero-cost migration): per-table `hoodie.*` keys via [[RefAliases]],
    * the `option.hoodie.path` template, and global
    * `hoodie.transformer.sql`.
    */
  def resolve(options: Map[String, String], db: String, table: String): TableConfig = {
    val prefix = s"$db.$table."
    val scoped = options.collect {
      case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v
    }
    def get(suffix: String): Option[String] =
      scoped.get(suffix).orElse(RefAliases.get(suffix).flatMap(scoped.get))
    val keyFieldKey = s"$prefix$RecordKeySuffix"
    val recordKeys = get(RecordKeySuffix).getOrElse(
      throw new IllegalArgumentException(s"config [$keyFieldKey] must be required!"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    if (recordKeys.isEmpty)
      throw new IllegalArgumentException(s"config [$keyFieldKey] must be non-empty!")

    val path = get("path").orElse(
      options.get(PathTemplateKey).orElse(options.get(RefPathTemplateKey))
        .map(_.replace(DbPlaceholder, db).replace(TablePlaceholder, table)))
      .getOrElse(throw new IllegalArgumentException(
        s"table [$db.$table] path is empty, $PathTemplateKey must be required!"))

    // Keygenerator interpretation: the reference passes
    // `hoodie.datasource.write.keygenerator.class` straight to Hudi
    // (README.md:59,65); here the class name is a VALIDATED declaration of
    // the key/partition-path derivation this engine already performs —
    // configs that would change Hudi's derivation (a keygen we don't
    // emulate, or options contradicting the declared keygen) fail loudly
    // instead of silently writing a different layout.
    val partitionFieldOpt = get("partition.field").filter(_.nonEmpty)
    get("keygen.class").map(_.trim).filter(_.nonEmpty).foreach { cls =>
      cls.substring(cls.lastIndexOf('.') + 1) match {
        case "NonpartitionedKeyGenerator" =>
          // Keys from recordkey.field, NO partition path — the engine's
          // default behavior. A partition.field alongside it contradicts
          // the declared layout.
          if (partitionFieldOpt.nonEmpty)
            throw new IllegalArgumentException(
              s"table [$db.$table]: NonpartitionedKeyGenerator contradicts " +
                s"partition.field=[${partitionFieldOpt.get}] — drop one of the two!")
        case "SimpleKeyGenerator" =>
          // Hudi's default: exactly one record key + one partition field.
          if (recordKeys.size != 1)
            throw new IllegalArgumentException(
              s"table [$db.$table]: SimpleKeyGenerator requires exactly one " +
                s"recordkey field, got [${recordKeys.mkString(",")}] — use " +
                "ComplexKeyGenerator for composite keys!")
          if (partitionFieldOpt.isEmpty)
            throw new IllegalArgumentException(
              s"table [$db.$table]: SimpleKeyGenerator requires a " +
                "partition.field (hoodie.datasource.write.partitionpath.field)!")
        case "ComplexKeyGenerator" =>
          // Composite record keys, optional partition fields — both native.
          ()
        case other =>
          throw new IllegalArgumentException(
            s"table [$db.$table]: unsupported keygenerator class [$cls] — " +
              "supported: NonpartitionedKeyGenerator, SimpleKeyGenerator, " +
              s"ComplexKeyGenerator (got [$other])!")
      }
    }

    TableConfig(
      db = db,
      table = table,
      recordKeyFields = recordKeys,
      path = path,
      transformerSql = scoped.get("transformer.sql")
        .orElse(options.get(RefTransformerSqlKey)).filter(_.nonEmpty),
      transformerClass = scoped.get("transformer.class").filter(_.nonEmpty),
      timestampFormat = scoped.getOrElse("timestampFormat", Envelope.DefaultTimestampFormat),
      numBuckets = scoped.get("buckets").map(_.toInt).getOrElse(DefaultNumBuckets),
      filesPerBucket = scoped.get("files.per.bucket").map(_.toInt).getOrElse(1),
      partitionField = partitionFieldOpt,
      tiebreakField = get("dedup.tiebreak.field").filter(_.nonEmpty),
      bloomEnable = scoped.get("bloom.enable").forall(_.toBoolean),
      operation = scoped.getOrElse("write.operation", "upsert") match {
        case op @ ("upsert" | "insert") => op
        case bad => throw new IllegalArgumentException(
          s"config [$prefix" + s"write.operation] must be upsert|insert, got [$bad]!")
      },
      zorderFields = get("zorder.fields").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil) match {
        case zs if zs.isEmpty => zs
        case zs => graft.lake.ZOrder.invalid(zs).fold(zs)(e => throw new IllegalArgumentException(
          s"config [$prefix" + s"zorder.fields] $e!"))
      },
      compactEvery = get("compact.every").map(_.toInt).getOrElse(0) match {
        case n if n >= 0 => n
        case bad => throw new IllegalArgumentException(
          s"config [$prefix" + s"compact.every] must be >= 0, got [$bad]!")
      },
      tableType = get("table.type")
        .map(_.trim.toLowerCase(java.util.Locale.ROOT))
        .getOrElse(graft.lake.LakeTable.CowType) match {
        // The reference's Hudi values are accepted as synonyms.
        case "cow" | "copy_on_write" => graft.lake.LakeTable.CowType
        case "mor" | "merge_on_read" => graft.lake.LakeTable.MorType
        case bad => throw new IllegalArgumentException(
          s"config [$prefix" + s"table.type] must be cow|mor " +
            s"(or COPY_ON_WRITE|MERGE_ON_READ), got [$bad]!")
      },
      compactDeltas = get("compact.deltas").map(_.toInt).getOrElse(8) match {
        case n if n > 0 => n
        case bad => throw new IllegalArgumentException(
          s"config [$prefix" + s"compact.deltas] must be > 0, got [$bad]!")
      },
      // Short names or Hudi payload classes (simple or fully-qualified).
      // OverwriteWithLatest AND DefaultHoodieRecordPayload map to
      // overwrite — our LWW orders by the event-time tiebreak column like
      // the latter; the former is arrival-ordered, which a deterministic
      // engine cannot honor anyway. Unknown classes fail loudly: silently
      // substituting merge semantics corrupts tables.
      mergeMode = get("merge.mode").map(_.trim).filter(_.nonEmpty)
        .map(v => v.split('.').last match {
          case "overwrite" | "OverwriteWithLatestAvroPayload" |
               "DefaultHoodieRecordPayload" => graft.lake.LakeTable.OverwriteMode
          case "partial" | "PartialUpdateAvroPayload" =>
            graft.lake.LakeTable.PartialMode
          case other => throw new IllegalArgumentException(
            s"config [$prefix" + s"merge.mode] must be overwrite|partial (or a " +
              s"supported Hudi payload class), got [$other]!")
        }).getOrElse(graft.lake.LakeTable.OverwriteMode),
      statsColumns = get("col.stats.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil),
      extras = scoped.view.filterKeys(k => !Recognized.contains(k)).toMap)
  }
}
