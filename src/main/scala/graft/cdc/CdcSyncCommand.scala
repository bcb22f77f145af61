package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeHandle, LakeTable, PartitionedLakeTable}

/** The CDC merge pipeline — the engine's equivalent of the reference's
  * whole purpose
  * (`/root/reference/src/main/java/org/apache/spark/sql/hudi/commands/BinlogSyncHoodieCommand.scala:220-283`):
  * envelope parse → explode → key-derive → last-write-wins dedup →
  * upsert/delete routing → per-table merge into copy-on-write lake tables.
  *
  * Spark-first differences from the reference (SURVEY.md §7.7):
  *  - the explode/keygen/dedup stages are one declarative plan (codegen,
  *    one shuffle on `_key`), not driver-side fastjson maps + RDD groupBy;
  *  - keys for *all* tables are derived in a single pass via a CASE chain
  *    ([[KeyGen.forTables]]) instead of per-record config lookups;
  *  - batch replay is idempotent: each per-table operation commits under
  *    `b<batchId>:<db>.<table>:<op>`, and [[LakeTable]] skips already
  *    committed ids (the reference ignores `batchId`, see
  *    `BinlogHoodieSink.scala:18-21`).
  *
  * The per-table loop is a driver loop over the batch's distinct
  * `(db, table, schema)` metas (ref A3, `:91-98`) — bounded by table count,
  * not data size; each iteration filters the cached deduped batch.
  */
object CdcSyncCommand {

  val SourceParallelismKey = "option.source.shuffle.parallelism"
  val KeepRawKey = "option.keepraw.enable"
  val RawPathKey = "option.raw.path"
  /** Reference-compat synonyms (`BinlogSyncHoodieCommand.scala:35-38`) —
    * the native keys win when both are set. */
  val RefKeepRawKey = "option.keepbinlog.enable"
  val RefRawPathKey = "option.binlog.path"
  /** "fail" = raise on malformed envelopes; default "drop" (ref behavior). */
  val OnMalformedKey = "option.onmalformed"
  /** Explicit multi-table staging root. Default: `_graft_staging` next to
    * the first table's path — i.e. on the SAME FileSystem the lake tables
    * use, which every executor can reach.
    */
  val StagingPathKey = "option.staging.path"
  /** Disambiguates commit ids when SEVERAL independent CDC streams write
    * the same table: each stream's batchIds start at 0, so without a
    * per-stream namespace stream B's batch 0 would look like a replay of
    * stream A's batch 0 and be silently skipped. Defaults to a hash of
    * `checkpointLocation` when present (stable across restarts of the
    * same query — replay idempotency keeps working), else empty (single
    * stream, the common case).
    *
    * Two caveats:
    *  - a query checkpointed through the SESSION conf
    *    (`spark.sql.streaming.checkpointLocation` + queryName) resolves
    *    its checkpoint outside the options map; [[graft.sources.CdcLakeSink]]
    *    closes that hole by injecting the active query's RESOLVED
    *    checkpoint root before calling [[run]]. Only a stream with no
    *    checkpoint at all (temp checkpoint, deleted on stop) falls back to
    *    the empty namespace — such a stream has no cross-run replay
    *    contract to protect anyway;
    *  - enabling a namespace CHANGES the commit-id format: a stream
    *    upgraded in place replays its in-flight batch under the new id
    *    and re-applies it. Drain the stream (let its last batch commit)
    *    before switching namespaces — same operational rule as changing
    *    any commit-protocol setting.
    */
  val CommitNamespaceKey = "option.commit.namespace"
  /** Register each synced table in the Spark session catalog after the
    * merge (the reference passes `hoodie.datasource.hive_sync.*` through
    * to Hudi's Hive sync; graft tables are path-addressed, so the
    * equivalent is an EXTERNAL datasource table over the `cdc-lake`
    * relation provider — `spark.table("db.t")` / SQL then always reads
    * the current snapshot). Global key; the reference's per-table
    * `hoodie.datasource.hive_sync.enable` extra works as a synonym.
    */
  val CatalogSyncKey = "option.catalog.sync"

  private[cdc] def commitNamespace(options: Map[String, String]): String =
    options.get(CommitNamespaceKey)
      .orElse(options.get("checkpointLocation").map { cp =>
        java.security.MessageDigest.getInstance("MD5")
          .digest(cp.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
      })
      .map(_ + ":").getOrElse("")

  /** Run one micro-batch of envelope JSON (a 1-string-column DataFrame). */
  def run(
      batch: DataFrame,
      options: Map[String, String],
      batchId: Long = -1L): Unit = {
    val spark = batch.sparkSession
    val valueCol = batch.columns.head

    // Optional repartition of the raw source (ref :221-226); default: trust
    // the source's partitioning + AQE rather than forcing a shuffle.
    val sized = options.get(SourceParallelismKey).map(_.toInt) match {
      case Some(n) if n > 0 && n != batch.rdd.getNumPartitions => batch.repartition(n)
      case _ => batch
    }

    val strict = options.get(OnMalformedKey).exists(_.equalsIgnoreCase("fail"))
    val records = Envelope.parse(sized, valueCol, strict).persist()
    try {
      // Raw-binlog archival sink (ref S5, :231-234): archive the raw
      // envelope text before any transformation. Batches WITH an identity
      // write into a batch-scoped subdir with overwrite, so an
      // at-least-once replay of the same batchId rewrites the same files
      // instead of appending duplicates (exactly-once archive, matching
      // the table commits); identity-less batch saves keep plain append.
      if (options.get(KeepRawKey).orElse(options.get(RefKeepRawKey)).exists(_.toBoolean)) {
        val rawPath = options.get(RawPathKey).orElse(options.get(RefRawPathKey))
          .getOrElse(
            throw new IllegalArgumentException(s"config [$RawPathKey] must be required!"))
        val raw = sized.select(col(valueCol).cast("string"))
        if (batchId >= 0)
          raw.write.mode("overwrite").text(s"$rawPath/batch=$batchId")
        else raw.write.mode("append").text(rawPath)
      }

      // Distinct table metas for this batch (ref A3, :91-98): tiny collect.
      val metas = records
        .select(
          col(s"${Envelope.MetaCol}.databaseName").as("db"),
          col(s"${Envelope.MetaCol}.tableName").as("table"),
          col(s"${Envelope.MetaCol}.schema").as("schema"))
        .distinct().collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      if (metas.isEmpty) return // empty batch short-circuit (ref :118-120)

      // Validate config for every observed table up front (ref :99-102,
      // :253-255 — fail the batch, not one record at a time).
      val configs: Map[(String, String), TableConfig] =
        metas.map { case (db, table, _) =>
          (db, table) -> TableConfig.resolve(options, db, table)
        }.toMap

      // Single-pass keygen + in-batch LWW dedup across ALL tables.
      val keyed = records
        .withColumn(
          LakeTable.KeyCol,
          KeyGen.forTables(
            col(s"${Envelope.MetaCol}.databaseName"),
            col(s"${Envelope.MetaCol}.tableName"),
            col(Envelope.ValueCol),
            configs.map { case (k, c) => k -> c.recordKeyFields }))
        .withColumn(LakeTable.TsCol, col(s"${Envelope.MetaCol}.timestamp"))
      // Deterministic total order on (_ts, configured numeric tiebreak,
      // record JSON text). Tables with `dedup.tiebreak.field` break equal-_ts
      // ties numerically on that payload field (greatest wins, one CASE arm
      // per table — same single-pass shape as KeyGen); the raw-text fallback
      // is deterministic but lexicographic (the reference's sort is stable
      // but arbitrary, :262-266). decimal(38,10), not double: 64-bit integer
      // tiebreak values (sequence numbers above 2^53) must order exactly —
      // a double cast would collapse distinct ids to equal and silently fall
      // through to the lexicographic fallback.
      val tieCol = configs.toSeq.sortBy { case ((db, t), _) => (db, t) }
        .foldLeft(lit(null).cast("decimal(38,10)")) { case (acc, ((db, table), cfg)) =>
          cfg.tiebreakField match {
            case Some(f) =>
              when(
                col(s"${Envelope.MetaCol}.databaseName") === db &&
                  col(s"${Envelope.MetaCol}.tableName") === table,
                get_json_object(col(Envelope.ValueCol), s"$$.$f").cast("decimal(38,10)"))
                .otherwise(acc)
            case None => acc
          }
        }
      // merge.mode=partial tables BYPASS the whole-row in-batch dedup:
      // every fragment must reach the lake merge, which composes them per
      // column — whole-row LWW here would silently drop each non-winning
      // fragment in the batch (two updates to different columns of one
      // key in one binlog batch is the NORMAL case). Empty set = the
      // one-pass plan is untouched.
      val partialTables = configs.collect {
        case (k, c) if c.mergeMode == graft.lake.LakeTable.PartialMode => k
      }.toSet
      def lwwOf(df: org.apache.spark.sql.DataFrame) = Dedup
        .lww(
          df.withColumn("_tie", tieCol),
          LakeTable.KeyCol,
          Seq(LakeTable.TsCol, "_tie", Envelope.ValueCol))
        .drop("_tie")
      val winners =
        if (partialTables.isEmpty) lwwOf(keyed)
        else {
          val isPartial = partialTables.toSeq.sorted.map { case (db, t) =>
            col(s"${Envelope.MetaCol}.databaseName") === db &&
              col(s"${Envelope.MetaCol}.tableName") === t
          }.reduce(_ || _)
          // The bypass forwards every fragment, but the downstream split
          // routes deletes and upserts into ONE merge commit where
          // overlapping deletes win — so a delete→newer-fragment sequence
          // inside one batch would wrongly resolve to delete. Settle the
          // order per key FIRST, by the same (_ts, tiebreak, raw-text)
          // total order LWW uses: fragments older than the key's newest
          // delete are dead (the delete supersedes them); a delete older
          // than the key's newest fragment is superseded by the reinsert
          // and dropped. Caveat (documented, Hudi's partial payload shares
          // it): a dropped delete means post-delete fragments compose with
          // the STORED row's pre-delete columns — a binlog reinsert is a
          // full row in practice, which overwrites every column anyway.
          val part = keyed.filter(isPartial).withColumn("_tie", tieCol)
          val ord = struct(
            col(LakeTable.TsCol), col("_tie"), col(Envelope.ValueCol))
          val frag = part.filter(!Envelope.isDelete)
          val dels = part.filter(Envelope.isDelete)
          val delMax = dels.groupBy(col(LakeTable.KeyCol))
            .agg(max(ord).as("_delord"))
          val fragMax = frag.groupBy(col(LakeTable.KeyCol))
            .agg(max(ord).as("_fragord"))
          val fragKept = frag
            .join(delMax, Seq(LakeTable.KeyCol), "left")
            .filter(col("_delord").isNull || ord > col("_delord"))
            .drop("_delord")
          val delsKept = dels
            .join(fragMax, Seq(LakeTable.KeyCol), "left")
            .filter(col("_fragord").isNull || ord >= col("_fragord"))
            .drop("_fragord")
          lwwOf(keyed.filter(!isPartial))
            .unionByName(fragKept.unionByName(delsKept).drop("_tie"))
        }

      // Idempotent-replay commit ids need a caller-supplied batch identity.
      // Batch saves without one (batchId < 0) get an EMPTY commitId — every
      // write applies — rather than a shared sentinel id that would make
      // LakeTable.isCommitted silently skip all but the first save.
      val ns = commitNamespace(options)
      def commitIdFor(db: String, table: String, op: String): String =
        if (batchId < 0) "" else s"${ns}b$batchId:$db.$table:$op"

      def sinkOne(mineOf: (String, String) => DataFrame)(
          meta: (String, String, String)): Unit = {
        val (db, table, schemaJson) = meta
        val cfg = configs((db, table))
        val mine = mineOf(db, table)

        // Upserts: typed decode via the in-band schema, then merge.
        val upserts = mine.filter(!Envelope.isDelete)
        val typed0 = Envelope.decode(upserts, schemaJson, cfg.timestampFormat)
        val typed1 = cfg.transformerSql match {
          case Some(sql) => Transformer.transform(typed0, sql)
          case None => typed0
        }
        val typed = cfg.transformerClass match {
          case Some(cls) => graft.util.Reflect.transformer(cls) match {
            // Config-aware plugins receive the table's passthrough options
            // (unrecognized <db>.<table>.* keys) — the generic escape hatch.
            case t: graft.util.ConfigAwareTransformer => t.transform(typed1, cfg.extras)
            case t => t.transform(typed1)
          }
          case None => typed1
        }
        val insertOp = cfg.operation == "insert"
        // Inline compaction cadence (ref hoodie.compact.inline.*): after
        // every Nth batch, coalesce the table's file groups. Deterministic
        // from batchId (NOT wall clock), so a replayed batch re-derives
        // the same decision and the scoped commitId makes it a no-op.
        val compactDue =
          cfg.compactEvery > 0 && batchId >= 0 && (batchId + 1) % cfg.compactEvery == 0
        // `partition.field` may be comma-separated (composite partition
        // paths). The stored layout wins over it, under the rule every
        // cdc-lake writer shares.
        val lake = LakeHandle.forWrite(
          spark, cfg.path, cfg.numBuckets, cfg.partitionField,
          cfg.filesPerBucket, cfg.bloomEnable, cfg.zorderFields, cfg.tableType,
          cfg.compactDeltas, cfg.statsColumns, Some(cfg.mergeMode))
        // Delete keys: key-only on a plain table (left-anti, ref
        // :186-190); on a partitioned one they carry the partition
        // value(s) decoded from the delete payload, so only the named
        // partitions are visited (null values fall back to the
        // bloom-pruned global path inside).
        val delRows = mine.filter(Envelope.isDelete)
        val dels =
          if (lake.partitionCols.isEmpty) delRows.select(LakeTable.KeyCol)
          else Envelope.decode(delRows, schemaJson, cfg.timestampFormat)
            .select(col(LakeTable.KeyCol) +: lake.partitionCols.map(col): _*)
        def delete(commitId: String): Unit = lake match {
          case pt: PartitionedLakeTable => pt.deleteRouted(dels, commitId)
          case t: LakeTable => t.delete(dels, commitId)
        }
        // MIGRATION replay: this batch (fully or partially) committed
        // under the pre-merge two-id scheme before the upgrade. Re-running
        // it through those ids completes or no-ops it; deriving the new
        // ":merge" id instead would match nothing and re-apply the whole
        // batch as a phantom commit. On a partitioned table a legacy
        // scoped commit can only live in a partition this batch's own
        // upserts name, so the probe is bounded to those partitions (one
        // exchange-free collect) instead of every table partition.
        def legacyCommitted: Boolean = {
          val upsertId = commitIdFor(db, table, "upsert")
          lake match {
            case pt: PartitionedLakeTable =>
              pt.isCommitted(upsertId, pt.partitionValues(typed, "updates"))
            case t: LakeTable => t.isCommitted(upsertId)
          }
        }
        if (insertOp) {
          // write.operation=insert: bulk-load fast path, no LWW merge agg
          // (ref insert/bulk_insert routing, :172-183).
          lake.bulkInsert(typed, commitIdFor(db, table, "upsert"))
          delete(commitIdFor(db, table, "delete"))
        } else if (legacyCommitted) {
          lake.upsert(typed, commitIdFor(db, table, "upsert"))
          delete(commitIdFor(db, table, "delete"))
        } else
          // Upserts + deletes in ONE commit per table (per touched
          // partition): one manifest publish + bloom pass per batch
          // instead of two commit constants.
          lake.merge(typed, dels, commitIdFor(db, table, "merge"))
        if (compactDue) lake.compact(commitIdFor(db, table, "compact"))
      }

      // Per-table merges are independent (distinct paths); dispatch from a
      // driver pool of up to 4 threads so table count, not table order,
      // drives wall clock. Spark schedules jobs from concurrent driver
      // threads fine.
      def dispatch(mineOf: (String, String) => DataFrame): Unit =
        if (metas.length <= 1) metas.foreach(sinkOne(mineOf))
        else graft.util.DriverPool.runAll(
          4.min(metas.length), metas.toSeq.map(m => () => sinkOne(mineOf)(m)))

      if (metas.length <= 1) {
        // Single table: no routing needed, consume the plan directly.
        val cached = winners.persist()
        try dispatch((_, _) => cached) finally cached.unpersist()
      } else {
        // Multi-table: ONE pass over the deduped winners writes a staging
        // dir partitioned by (db, table) (SURVEY §7.7); each table's sink
        // then opens only its own partition directories — job count per
        // batch is O(1) + O(tables touched), instead of one full filter
        // scan of the cached winners per table.
        //
        // The staging dir lives on the SAME FileSystem as the lake tables
        // (or an explicit option.staging.path) — NOT the driver's
        // java.io.tmpdir: executors write the staged files, so on a real
        // cluster a driver-local file:// path would scatter partitions
        // across executor-local disks and the read-back would open an
        // empty directory. Staging on disk beats staging in memory: an
        // in-memory staged batch (persisted winners, a local sort on
        // (db, table), a filter per table) made the perfbench
        // fanout_stream micro-batch 17-31% slower (4 of 4 alternating
        // pairs on a 4-vCPU host, median 5.7 s -> 7.0 s).
        val stagingRoot = options.getOrElse(StagingPathKey, {
          val anchor = new org.apache.hadoop.fs.Path(
            configs.toSeq.sortBy(_._1).head._2.path)
          new org.apache.hadoop.fs.Path(
            Option(anchor.getParent).getOrElse(anchor), "_graft_staging").toString
        })
        val batchTag = if (batchId >= 0) batchId.toString else "adhoc"
        val stagingDir =
          s"$stagingRoot/batch-$batchTag-${java.util.UUID.randomUUID()}"
        // Repartition on the partition columns first (CLAUDE.md perf rule:
        // unaligned partitioned writes fan out tasks x dirs tiny files on
        // the shared lake FS, and every micro-batch pays the per-file
        // metadata cost on read-back + cleanup).
        val toStage = winners
          .withColumn("_db", col(s"${Envelope.MetaCol}.databaseName"))
          .withColumn("_table", col(s"${Envelope.MetaCol}.tableName"))
        toStage.repartition(col("_db"), col("_table"))
          .write.partitionBy("_db", "_table").parquet(stagingDir)
        try {
          // Read back under the schema just written: inference would type
          // `_table=01` as an integer (equal to tables `1` and `001`) and
          // run a schema job per batch.
          val staged = spark.read.schema(toStage.schema).parquet(stagingDir)
          dispatch((db, table) =>
            staged
              .filter(col("_db") === db && col("_table") === table) // dir pruning
              .drop("_db", "_table"))
        } finally {
          val p = new org.apache.hadoop.fs.Path(stagingDir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
        }
      }
      // Catalog sync (driver-side, after all merges land): cheap no-op when
      // the registration is already valid.
      val globalSync = options.get(CatalogSyncKey).exists(_.toBoolean)
      metas.foreach { case (db, table, _) =>
        val cfg = configs((db, table))
        val enabled = globalSync ||
          cfg.extras.get("hoodie.datasource.hive_sync.enable").exists(_.toBoolean)
        if (enabled) syncCatalog(spark, cfg)
      }
    } finally records.unpersist()
  }

  /** Register `cfg`'s lake table in the session catalog as an external
    * datasource table (`USING cdc-lake`) named by the reference's
    * hive-sync options when present (`hive_sync.database` /
    * `hive_sync.table` / `hoodie.table.name`), else `<db>.<table>`.
    *
    * Spark persists the creation-time schema for v1 datasource tables and
    * re-checks it against the relation on every read, so a schema-widening
    * commit (int->long) invalidates the registration — detected here by
    * resolving the table, and repaired by re-registering (the same
    * alter-on-change shape as Hudi's Hive sync).
    */
  // public: a fresh in-memory-catalog session re-registers by calling
  // this directly (the registration's lifetime is the catalog's — see
  // README; a metastore-backed catalog persists it instead)
  def syncCatalog(spark: SparkSession, cfg: TableConfig): Unit = {
    val db = cfg.extras.getOrElse("hoodie.datasource.hive_sync.database", cfg.db)
    val tbl = cfg.extras.getOrElse(
      "hoodie.datasource.hive_sync.table",
      cfg.extras.getOrElse("hoodie.table.name", cfg.table))
    val ident = s"`$db`.`$tbl`"
    // Writer config rides the registration: SQL
    // INSERT/MERGE open their write handle from these OPTIONS — without
    // them a SQL write would strip stats sidecars / Z-clustering / the
    // MOR delta path from every bucket it touches.
    val writerOpts = Seq(
      "filesPerBucket" -> (if (cfg.filesPerBucket != 1) cfg.filesPerBucket.toString else ""),
      "zorderBy" -> cfg.zorderFields.mkString(","),
      "tableType" -> (if (cfg.tableType != graft.lake.LakeTable.CowType) cfg.tableType else ""),
      "compactAfter" -> (if (cfg.compactDeltas != 8) cfg.compactDeltas.toString else ""),
      "statsColumns" -> cfg.statsColumns.mkString(","),
      // bloom-disabled tables must not grow sidecars through SQL writes
      // (writeHandle defaults bloomOnWrite=true)
      "bloomOnWrite" -> (if (!cfg.bloomEnable) "false" else ""))
      .collect { case (k, v) if v.nonEmpty => s", $k '$v'" }.mkString
    def create(): Unit = spark.sql(
      s"""CREATE TABLE IF NOT EXISTS $ident
         |USING `${graft.sources.CdcLakeSinkProvider.ShortName}`
         |OPTIONS (path '${cfg.path}', buckets '${cfg.numBuckets}'$writerOpts)""".stripMargin)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$db`")
    if (!spark.catalog.tableExists(db, tbl)) create()
    else {
      // Drop the session's cached LogicalRelation first: without this a
      // reader keeps the relation (and snapshot) resolved BEFORE this
      // batch's commit, and the drift check below would test the cache,
      // not the stored schema.
      spark.catalog.refreshTable(ident)
      // Two drift signals: Spark's own user-specified-vs-actual
      // AnalysisException (the RelationProvider branch), and the
      // relation's declared-vs-stored mismatch — since the provider is a
      // SchemaRelationProvider, catalog reads route the stored catalog
      // schema through createRelation(schema) and the mismatch raises
      // THERE. The IAE catch is message-scoped: a corrupt
      // buckets/queryType option also raises IAE, and reading THAT as
      // drift would silently drop-and-recreate the table every batch
      // instead of surfacing the misconfiguration.
      val resolvable =
        try { spark.table(ident).schema; true }
        catch {
          case _: org.apache.spark.sql.AnalysisException => false
          case e: IllegalArgumentException
              if Option(e.getMessage).exists(
                _.startsWith("cdc-lake: the declared schema")) => false
        }
      if (!resolvable) { // stored schema drifted from the lake's (widening)
        spark.sql(s"DROP TABLE IF EXISTS $ident")
        create()
      }
    }
  }
}
