package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.{DataType, StructType}

/** Copy-on-write lake table over Parquet — the engine's replacement for the
  * Hudi tables the reference writes into
  * (`/root/reference/src/main/java/org/apache/spark/sql/hudi/commands/BinlogSyncHoodieCommand.scala:216`
  * upsert, `:186-190` delete). Pure Spark: no Hudi jars exist in this
  * environment (SURVEY.md §0).
  *
  * == Layout ==
  * {{{
  *   basePath/
  *     _commits/v00000001.json     // manifest: bucket -> data dir, commitId
  *     data/<version>-<uuid>/b=<i>/part-*.parquet
  * }}}
  *
  * == Design for scale ==
  * Rows are hash-bucketed by `_key` into `numBuckets` buckets (Hudi's bucket
  * index / file-group model). An upsert or delete only reads, merges, and
  * rewrites the buckets that contain incoming keys; untouched buckets are
  * carried forward in the manifest by reference. Write amplification is
  * therefore proportional to the touched key range, not the table size — at
  * 100 TB you raise `numBuckets` (thousands) so each bucket is one
  * task-sized file group, and a small CDC batch rewrites only a few of them.
  * The merge itself is a hash aggregation (`max_by` over `(_ts, _seq)`) —
  * no global sort. It runs on the write's bucket layout, so a commit
  * shuffles its rows once: into the tasks that write each bucket's files.
  *
  * == Concurrency / idempotency ==
  * Commits are atomic: the manifest is written to a temp file and published
  * if-absent via [[LakeIO.publishIfAbsent]] (hard link on local FS,
  * NameNode-atomic no-overwrite rename on HDFS) — it fails if the version
  * file already exists. A writer that loses the publish race re-reads the
  * winner's manifest, re-merges on top of it, and retries (bounded by
  * [[LakeTable.MaxCommitRetries]]) — optimistic concurrency where multiple
  * CDC streams on one table all make progress. Each commit records a caller
  * `commitId` (e.g. streaming `batchId`); replaying an already-committed id
  * is a no-op, giving exactly-once table state over at-least-once batch
  * delivery (stronger than the reference, which ignores `batchId`,
  * `BinlogHoodieSink.scala:18-21`).
  *
  * == Schema ==
  * Tables carry two meta columns — `_key: string` (record identity) and
  * `_ts: long` (last-write-wins version) — plus arbitrary payload columns.
  * Schema drift across commits is tolerated via `unionByName(allowMissing)`
  * on merge and `mergeSchema` on read (missing columns read as null).
  */
final class LakeTable(
    spark: SparkSession,
    val basePath: String,
    val numBuckets: Int = LakeTable.DefaultNumBuckets,
    val filesPerBucket: Int = 1,
    val zorderBy: Seq[String] = Nil,
    val bloomOnWrite: Boolean = true,
    val tableType: String = LakeTable.CowType,
    val compactAfter: Int = 8,
    val mergeMode: String = LakeTable.OverwriteMode,
    val statsColumns: Seq[String] = Nil) {
  import LakeTable._

  require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
  require(filesPerBucket > 0, s"filesPerBucket must be positive: $filesPerBucket")
  require(zorderBy.isEmpty || (zorderBy.size >= 2 && zorderBy.size <= 4),
    s"zorderBy takes 2-4 numeric/timestamp/date/string columns, got: " +
      zorderBy.mkString(","))
  // tableType drives WRITES only — reads are manifest-driven (readBuckets
  // merges any delta stack it finds), so cow and mor handles on one table
  // interoperate: a cow commit simply folds the buckets it touches.
  require(tableType == CowType || tableType == MorType,
    s"tableType must be '$CowType' or '$MorType': $tableType")
  require(compactAfter > 0, s"compactAfter must be positive: $compactAfter")
  require(mergeMode == OverwriteMode || mergeMode == PartialMode,
    s"mergeMode must be '$OverwriteMode' or '$PartialMode': $mergeMode")
  // mergeMode=partial works on BOTH table types since r14: cow folds at
  // write time (partialMerge), mor defers to the read-side stack collapse
  // (morPartialMerge) — sound because the `_pts` per-column-time map makes
  // the fold associative across any commit grouping (q85's proof), so
  // collapsing N delta fragments at read equals folding them one commit at
  // a time. Readers pick the collapse from the MANIFEST SCHEMA (`_pts`
  // present = partial table), never from handle construction, so
  // cow/mor/reader handles keep interoperating on one table.

  // Label the write path's jobs (optimization guide §1.5) so per-job
  // profiling (QProbe / the Spark UI) attributes a lifecycle query's many
  // commit jobs to their phase instead of an anonymous SQL-thread frame.
  // Thread-local, restored after the action — never leaks into the
  // caller's own description.
  private def withJobDesc[T](desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val old = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"lake:$desc ${basePath.takeRight(24)}")
    try f finally sc.setJobDescription(old)
  }

  // All small-file metadata I/O goes through the Hadoop FS abstraction —
  // the table works on any FileSystem URI (local, HDFS; see LakeIO's doc
  // for the S3 caveat). Data files go through Spark's own parquet I/O.
  private val io = new LakeIO(basePath, spark.sparkContext.hadoopConfiguration)
  private val commitsDir: HPath = io.resolve(CommitsDirName)
  private val dataDir: HPath = io.resolve(DataDirName)

  // ---- commit log ---------------------------------------------------------

  /** All committed versions, ascending. */
  private def versions(): Seq[Long] =
    io.list(commitsDir).collect { case VersionFileRe(n) => n.toLong }.sorted

  def latestVersion: Option[Long] = versions().lastOption

  /** Committed versions still present in the log that are strictly after
    * `sinceVersion`, ascending — the streaming rate limiter's admission
    * unit. Arithmetic caps (`since + n`) are wrong under [[vacuum]]:
    * a vacuumed early version number no longer names a manifest, and an
    * offset computed onto it wedges the consumer permanently.
    */
  def versionsAfter(sinceVersion: Long): Seq[Long] =
    versions().filter(_ > sinceVersion)

  /** The end version of a consumer's next admission-controlled chunk:
    * the highest of the first `mx` committed versions STILL IN THE LOG
    * past `since`, never above `upTo` (a drain target frozen earlier —
    * also resolved against the log, so a target whose own manifest a
    * concurrent vacuum deleted clamps DOWN to the largest surviving
    * version under it rather than naming a tombstone the reader would
    * wedge on). None = nothing eligible (caught up, or everything
    * eligible was vacuumed).
    */
  def nextVersion(
      since: Long, mx: Option[Long], upTo: Option[Long]): Option[Long] = {
    val after = versionsAfter(since)
    val eligible = upTo.map(t => after.filter(_ <= t)).getOrElse(after)
    mx.map(m => eligible.take(m.toInt)).getOrElse(eligible).lastOption
  }

  /** commitId of `version`, or None if its manifest vanished (vacuumed
    * between a listing and the read — callers fall back to vacuumedIds).
    * Public alias [[commitIdOf]] backs `CALL show_commits` (r18).
    */
  def commitIdOf(version: Long): Option[String] =
    manifestCommitId(version).filter(_.nonEmpty)

  private def manifestCommitId(version: Long): Option[String] =
    try Some(readManifest(version).commitId)
    catch { case _: java.io.FileNotFoundException => None }

  /** Published manifests are create-if-absent immutable ([[publish]]), so
    * each version's parsed manifest caches on first read (r18, ADVICE r17:
    * `isPartialTable` and the partitioned probe/stat paths re-read the
    * same small file per statement, multiplied by partition count).
    * Vacuum deletes old manifests but every vacuumed-state read is
    * guarded by its own `vacuumedIds`/`versions()` pre-check, never by
    * expecting this read to fail. Bounded so a long-history handle can't
    * pin the whole log in driver memory.
    */
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Manifest]()

  private[lake] def readManifest(version: Long): Manifest = {
    val cached = manifestCache.get(version)
    if (cached != null) cached
    else {
      val m = Manifest.fromJson(
        io.readString(new HPath(commitsDir, versionFileName(version))))
      if (manifestCache.size < 256) manifestCache.put(version, m)
      m
    }
  }

  private[lake] def latestManifest(): Option[Manifest] = latestVersion.map(readManifest)

  /** True iff the STORED table is mergeMode=partial (its manifest schema
    * carries the reserved `_pts` map) — the same inference every reader
    * uses. Public so write surfaces that open handles generically (the
    * SQL INSERT path, tooling) can construct a mode-matched handle
    * instead of tripping the loud mode guard (r16).
    */
  def isPartialTable: Boolean = latestManifest().exists(m =>
    DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      .fieldNames.contains(PtsCol))

  /** Commit ids of every committed version (for idempotent replay checks),
    * including versions whose snapshots were vacuumed — replaying a batch
    * that committed before a vacuum must stay a no-op.
    */
  def committedIds: Set[String] =
    versions().map(v => readManifest(v).commitId).filter(_.nonEmpty).toSet ++
      vacuumedIds.values.filter(_.nonEmpty)

  /** True iff `commitId` has already been committed. */
  def isCommitted(commitId: String): Boolean =
    commitId != null && commitId.nonEmpty && committedIds.contains(commitId)

  /** Per-bucket delta-stack depth at the latest committed version (only
    * buckets with a live stack; empty = fully compacted, pure COW, or
    * empty table). The merge-on-read monitoring hook: read amplification
    * is bounded by the max depth, so schedule `compact()` off-cadence
    * when it creeps toward `compactAfter`.
    */
  def deltaDepths: Map[Int, Int] =
    latestManifest()
      .map(_.deltas.collect { case (b, ds) if ds.nonEmpty => b -> ds.size })
      .getOrElse(Map.empty)

  // ---- read path ----------------------------------------------------------

  /** Current table state. Empty (with the stored schema) if never written. */
  def snapshot: DataFrame = latestManifest() match {
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], new StructType())
    case Some(m) => readBuckets(m, m.allBuckets)
  }

  /** Read-optimized query (Hudi's `_ro` view of a MOR table): base file
    * groups ONLY — delta stacks are skipped, so the read costs exactly a
    * COW scan but shows each bucket's state AS OF ITS LAST FOLD (bounded
    * staleness: at most `compactAfter - 1` delta commits per bucket by
    * the fold-cadence invariant, zero after `compact()`). [[snapshot]]
    * is the real-time view; on a fully-compacted or pure-COW table the
    * two are identical.
    */
  def snapshotReadOptimized: DataFrame = latestManifest() match {
    case None =>
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], new StructType())
    case Some(m) => readBuckets(m.copy(deltas = Map.empty), m.buckets.keySet)
  }

  /** Time travel: table state as of a committed `version` (valid until the
    * referenced snapshot dirs are vacuumed).
    */
  def snapshotAt(version: Long): DataFrame = {
    require(
      !vacuumedIds.contains(version),
      s"version $version at $basePath was vacuumed — its snapshot no longer exists")
    require(versions().contains(version), s"no committed version $version at $basePath")
    val m = readManifest(version)
    readBuckets(m, m.allBuckets)
  }

  /** (version, commitTimeMs) for every committed version, ascending by
    * version — the basis for timestamp-based time travel. Driver-side,
    * one manifest read per version. Pre-r12 manifests report 0.
    */
  /** Published manifests are immutable, so each version's commit time is
    * cached on first read — without this, every timestamp resolution
    * (`versionAt`, `vacuumBefore`, partitioned `versionsAt`) re-reads the
    * WHOLE manifest history driver-side: O(versions) small-file
    * round-trips per call, multiplied by partition count on partitioned
    * tables — painful on object stores with long histories. One listing
    * per call remains (the live-version set changes); manifest reads are
    * paid once per version per handle. Vacuumed versions drop out of the
    * listing; their stale cache entries are never consulted.
    */
  private val commitTimeCache =
    new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  def commitTimes(): Seq[(Long, Long)] =
    versions().map { v =>
      v -> commitTimeCache.computeIfAbsent(v, _ => readManifest(v).commitTimeMs)
    }

  /** Latest version committed at-or-before `tsMillis` (Hudi's
    * `as.of.instant` resolution), or None when the timestamp precedes
    * every commit — a legitimate point-in-time whose table state is
    * empty. Commit times are wall-clock at publish; a clock that stepped
    * backward between commits cannot reorder resolution (each version's
    * effective time is the running max over version order — versions are
    * the source of truth for ordering, times only name them).
    */
  def versionAt(tsMillis: Long): Option[Long] = {
    var eff = Long.MinValue
    commitTimes().foldLeft(Option.empty[Long]) { case (acc, (v, t)) =>
      eff = math.max(eff, t)
      if (eff <= tsMillis) Some(v) else acc
    }
  }

  /** Restore (rollback): publish a NEW version whose manifest replicates
    * `version`'s — Hudi's restore/rollback shape. No data files move or
    * are deleted; the undone versions stay time-travel-addressable until
    * `vacuum` sweeps them, and vacuum keeps every dir the restored
    * manifest still references. Goes through the same publish-if-absent
    * commit protocol as writes (bounded retry on a lost race) and the same
    * commitId idempotency (a replayed restore is a no-op). Returns the
    * published version.
    */
  def restoreTo(version: Long, commitId: String = ""): Long = synchronized {
    require(
      !vacuumedIds.contains(version),
      s"version $version at $basePath was vacuumed — cannot restore to it")
    require(versions().contains(version), s"no committed version $version at $basePath")
    if (isCommitted(commitId)) return latestVersion.get
    val target = readManifest(version)
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val next = latestVersion.getOrElse(0L) + 1L
      try {
        publish(next, target.copy(version = next, commitId = commitId))
        return next
      } catch {
        case _: IllegalStateException =>
          // a concurrent writer took `next`; if it was OUR replayed
          // commitId, the restore already happened
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"restore to $version lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** One-time migration hook (ADVICE r14): latch an UNLATCHED table as
    * `mergeMode=partial`. A pre-r14 partial table whose only commits went
    * through bulkInsert carries no `_pts` in its manifest schema (the
    * null-`_pts` stamp on every write path is r14+), so the mode guard on
    * the next partial upsert rejects it as an overwrite-mode table.
    * Because no merge ever ran on such a table, its rows are identical
    * under either mode — latching is MANIFEST-ONLY: republish the latest
    * manifest with the `_pts` map column appended to the schema. Existing
    * base files lack the physical column and read it as null under the
    * manifest schema (readBuckets reads under the manifest schema, never
    * footer-merged) — exactly the raw-fragment semantics the partial
    * collapse composes over. No-op when already latched; loud on an empty
    * table (nothing to latch — just write through a partial handle).
    *
    * ONLY safe when the table's history is genuinely merge-free; manifests
    * record no operation types, so that judgement is the caller's — hence
    * an explicit hook, never an automatic unlatch.
    */
  def latchPartial(commitId: String = ""): Long = synchronized {
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    require(latestVersion.nonEmpty,
      s"empty table at $basePath — write through a mergeMode=partial handle instead")
    if (isCommitted(commitId)) return latestVersion.get
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val cur = latestManifest().get
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      if (schema.fieldNames.contains(PtsCol)) return cur.version // latched
      try {
        publish(cur.version + 1, cur.copy(
          version = cur.version + 1, commitId = commitId,
          schemaJson = schema.add(PtsCol, MapType(StringType, LongType)).json))
        return cur.version + 1
      } catch {
        case _: IllegalStateException =>
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1 // concurrent writer won; re-read and re-check
      }
    }
    throw new IllegalStateException(
      s"latchPartial lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** Manifest-only additive column evolution (r18): publish a new
    * version whose schema appends the ABSENT names of `cols` (nullable)
    * — zero data IO, exactly the state the DataFrame path reaches when
    * an upsert carries new columns (readers null-fill files written
    * before the widening). Backs SQL `MERGE ... WITH SCHEMA EVOLUTION`,
    * which must evolve BEFORE resolution so new-column assignments
    * bind. Same publish-if-absent + commitId idempotency as every
    * commit; the reserved `_pts` map stays LAST (partial-table readers
    * strip it — new payload columns belong to the user-facing prefix).
    * Names already present are skipped here whatever their type — a
    * same-name/different-type source is a TYPE change, which stays with
    * the write path's widen() (int→long / float→double or loud).
    */
  def addColumns(cols: StructType, commitId: String = ""): Long = synchronized {
    require(latestVersion.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    if (isCommitted(commitId)) return latestVersion.get
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val cur = latestManifest().get
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val fresh = cols.fields.filterNot(f => schema.fieldNames.contains(f.name))
      if (fresh.isEmpty) return cur.version
      val (pts, user) = schema.fields.partition(_.name == PtsCol)
      val next = StructType(user ++ fresh.map(_.copy(nullable = true)) ++ pts)
      // a re-added previously-dropped (or renamed-away) name needs a
      // fresh physical name or old file data would resurrect (r20)
      val renames = LakeTable.assignPhysical(
        Some(schema), cur.renames, cur.retired, fresh.map(_.name))
      try {
        publish(cur.version + 1, cur.copy(
          version = cur.version + 1, commitId = commitId, schemaJson = next.json,
          renames = renames))
        return cur.version + 1
      } catch {
        case _: IllegalStateException =>
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1 // concurrent writer won; re-read and re-check
      }
    }
    throw new IllegalStateException(
      s"addColumns lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** Manifest-only column RENAME (r20, `ALTER TABLE ... RENAME COLUMN`):
    * publish a new version whose schema carries the field under its new
    * LOGICAL name, position and type preserved, with the logical→physical
    * mapping recording the column's unchanged BIRTH name — zero data IO;
    * files (which always store physical names) read back under the new
    * name via [[readBuckets]]' alias, old and new alike, and time travel
    * before the rename still answers under the old name (each manifest
    * carries its own mapping). Sidecar stats are keyed physical, so
    * range pruning on the renamed column keeps working. Loud: unknown
    * column, an existing (case-insensitive) target name, reserved names
    * (`_key`/`_ts` are the lake contract; `b`/`_pts` are internal), and
    * partial-mode tables (old fragments' `_pts` per-column-time maps key
    * the OLD logical name — composing them under the new name would
    * silently drop their column times).
    */
  def renameColumn(from: String, to: String, commitId: String = ""): Long = synchronized {
    require(latestVersion.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    if (isCommitted(commitId)) return latestVersion.get
    val reserved = Set(KeyCol, TsCol, BucketCol, PtsCol, OpCol, DvCol)
    require(!reserved.exists(r => r.equalsIgnoreCase(from) || r.equalsIgnoreCase(to)),
      s"cannot rename '$from' to '$to' — reserved lake column names")
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val cur = latestManifest().get
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      require(!schema.fieldNames.contains(PtsCol),
        s"cannot rename columns on a mergeMode=partial table at $basePath — " +
          "stored per-column-time maps key the old name")
      // resolve the source case-INSENSITIVELY (ADVICE r20: Spark's own
      // resolution is; the conflict check below already was) and operate
      // on the stored-case field
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(from))
      require(idx >= 0, s"no column '$from' at $basePath")
      val storedFrom = schema.fieldNames(idx)
      if (storedFrom == to) return cur.version // idempotent
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"column '$to' already exists at $basePath")
      val next = StructType(
        schema.fields.updated(idx, schema.fields(idx).copy(name = to)))
      val physical = cur.renames.getOrElse(storedFrom, storedFrom)
      val renames0 = cur.renames - storedFrom
      val renames =
        if (physical == to) renames0 // renamed back to its birth name
        else renames0 + (to -> physical)
      try {
        publish(cur.version + 1, cur.copy(
          version = cur.version + 1, commitId = commitId,
          schemaJson = next.json, renames = renames))
        return cur.version + 1
      } catch {
        case _: IllegalStateException =>
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"renameColumn lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** Manifest-only column DROP (r20, `ALTER TABLE ... DROP COLUMN`):
    * publish a new version whose schema omits the column — zero data IO;
    * old files keep the bytes but no read ever projects them, and the
    * column's PHYSICAL name is RETIRED so a later re-add of the same
    * logical name maps to a fresh physical name (old data can never
    * resurrect; old sidecar stats for the retired physical are ignored).
    * Time travel before the drop still reads the column. Loud: unknown
    * column, reserved names, partial-mode tables (same `_pts` rationale
    * as rename).
    */
  def dropColumn(name: String, commitId: String = ""): Long = synchronized {
    require(latestVersion.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    if (isCommitted(commitId)) return latestVersion.get
    val reserved = Set(KeyCol, TsCol, BucketCol, PtsCol, OpCol, DvCol)
    require(!reserved.exists(_.equalsIgnoreCase(name)),
      s"cannot drop '$name' — reserved lake column name")
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val cur = latestManifest().get
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      require(!schema.fieldNames.contains(PtsCol),
        s"cannot drop columns on a mergeMode=partial table at $basePath — " +
          "stored per-column-time maps key the dropped name")
      // case-insensitive resolution, stored-case operation (ADVICE r20)
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"no column '$name' at $basePath")
      val storedName = schema.fieldNames(idx)
      val next = StructType(schema.fields.filterNot(_.name == storedName))
      val physical = cur.renames.getOrElse(storedName, storedName)
      try {
        publish(cur.version + 1, cur.copy(
          version = cur.version + 1, commitId = commitId,
          schemaJson = next.json,
          renames = cur.renames - storedName,
          retired = cur.retired :+ physical))
        return cur.version + 1
      } catch {
        case _: IllegalStateException =>
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"dropColumn lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** Manifest-only type widening (r18, `ALTER TABLE ... ALTER COLUMN ...
    * TYPE ...`): publish a new version whose schema carries `name` at
    * the WIDER type — legal for exactly the pairs the write path widens
    * (int→long, float→double): reads run under the manifest schema, so
    * files written at the narrow type upcast in the vectorized reader
    * (the same mechanism a widening upsert relies on). Anything else —
    * unknown column, narrowing, cross-kind — fails loudly. Same-type is
    * an idempotent no-op.
    */
  def widenColumn(name: String, to: DataType, commitId: String = ""): Long = synchronized {
    require(latestVersion.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    if (isCommitted(commitId)) return latestVersion.get
    def widens(from: DataType): Boolean = (from, to) match {
      case (org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType) => true
      case (org.apache.spark.sql.types.FloatType, org.apache.spark.sql.types.DoubleType) => true
      case _ => false
    }
    var attempt = 0
    while (attempt <= MaxCommitRetries) {
      val cur = latestManifest().get
      val schema = DataType.fromJson(cur.schemaJson).asInstanceOf[StructType]
      val idx = schema.fieldNames.indexOf(name)
      require(idx >= 0, s"no column '$name' at $basePath")
      val from = schema.fields(idx).dataType
      if (from == to) return cur.version // idempotent
      require(widens(from),
        s"cannot change column '$name' from ${from.simpleString} to " +
          s"${to.simpleString} — only the lake's widening pairs " +
          "(int->bigint, float->double) are manifest-safe")
      val next = StructType(schema.fields.updated(idx, schema.fields(idx).copy(dataType = to)))
      try {
        publish(cur.version + 1, cur.copy(
          version = cur.version + 1, commitId = commitId, schemaJson = next.json))
        return cur.version + 1
      } catch {
        case _: IllegalStateException =>
          if (isCommitted(commitId)) return latestVersion.get
          attempt += 1
      }
    }
    throw new IllegalStateException(
      s"widenColumn lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

  /** Incremental read: rows whose (`_key`, `_ts`) state changed after
    * `sinceVersion` — inserts and updates since that commit (deletes are
    * absent; diff keys via a left-anti the other way for tombstones).
    * Only buckets REWRITTEN after `sinceVersion` are scanned on either
    * side — carried-forward buckets cannot contain changes, so the diff
    * cost scales with what actually changed, not table size.
    */
  def incremental(sinceVersion: Long): DataFrame =
    incrementalBetween(sinceVersion, latestVersion.getOrElse(
      throw new IllegalArgumentException(s"empty table at $basePath")))

  /** Rows changed in versions `(sinceVersion, untilVersion]` — the bounded
    * variant backing [[graft.sources.LakeIncrementalSource]] (each
    * micro-batch covers exactly one committed version range, so replays
    * after a checkpoint restart are deterministic). `sinceVersion = 0`
    * means "from the beginning": every row of `untilVersion`'s snapshot.
    * Hard-deleted keys do not appear (copy-on-write incremental reads
    * carry no tombstones — same contract as Hudi COW incremental
    * queries); a vacuumed `sinceVersion` manifest fails loudly.
    */
  /** Timestamp-bounded incremental read — Hudi's incremental query with
    * `read.begin.instanttime` AND `read.end.instanttime`: rows changed
    * in commits landing strictly after `beginMillis` up to and including
    * `endMillis`, resolved through the stamped commit times
    * ([[versionAt]] on each bound). A begin before the first commit
    * reads from the table's birth; an end before the first commit (or
    * begin >= end resolution) is an empty range with the stored schema.
    */
  def incrementalBetweenTimes(beginMillis: Long, endMillis: Long): DataFrame = {
    require(beginMillis <= endMillis,
      s"begin $beginMillis is after end $endMillis")
    val until = versionAt(endMillis)
    val since = versionAt(beginMillis).getOrElse(0L)
    until match {
      case Some(u) if since < u => incrementalBetween(since, u)
      case _ => // nothing committed in range: empty, with the schema
        latestManifest() match {
          case Some(m) => readBuckets(m, Set.empty)
          case None => spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], new StructType())
        }
    }
  }

  def incrementalBetween(sinceVersion: Long, untilVersion: Long): DataFrame = {
    require(
      versions().contains(untilVersion),
      s"no committed version $untilVersion at $basePath")
    val newest = readManifest(untilVersion)
    if (sinceVersion == 0L)
      return readBuckets(newest, newest.allBuckets)
    require(
      versions().contains(sinceVersion),
      s"no committed version $sinceVersion at $basePath")
    val old = readManifest(sinceVersion)
    // A bucket changed if its base dir moved OR its delta stack did
    // (merge-on-read commits change only `deltas`; a fold empties the
    // stack and moves the base — both compare unequal here).
    val changedBuckets = newest.allBuckets.filter { b =>
      old.buckets.get(b) != newest.buckets.get(b) ||
        old.deltas.getOrElse(b, Nil) != newest.deltas.getOrElse(b, Nil)
    }
    if (changedBuckets.isEmpty)
      return readBuckets(newest, Set.empty) // empty, with schema
    val cur = readBuckets(newest, changedBuckets)
    val prevRaw = readBuckets(old, changedBuckets & old.allBuckets)
    val newestSchema =
      DataType.fromJson(newest.schemaJson).asInstanceOf[StructType]
    if (!newestSchema.fieldNames.contains(PtsCol)) {
      val prev = prevRaw.select(col(KeyCol), col(TsCol))
      cur.join(broadcastIfSmall(prev), Seq(KeyCol, TsCol), "left_anti")
    } else {
      // mergeMode=partial: `_ts` is the MAX fragment time, so a
      // late-arriving fragment (older event time) can change a column
      // WITHOUT advancing `_ts` — a (key, _ts) diff would silently drop
      // that row from incremental reads and the cdc-lake stream. Diff on
      // visible row content instead: emit a current row unless the prior
      // version holds the same key with ALL visible columns null-safe
      // equal. (A late fragment that re-delivers identical values leaves
      // the visible row unchanged and is correctly not re-emitted.)
      // Prior side conforms to the newest schema first, so a widening or
      // column-add alone (old value upcast / new column null both sides)
      // does not mark every row changed.
      val fields = cur.schema.fields
      val prev = broadcastIfSmall(prevRaw.select(fields.map { f =>
        if (prevRaw.columns.contains(f.name))
          col("`" + f.name + "`").cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)).as("_b")
      val a = cur.as("_a")
      val same = fields.map(f =>
        col(s"_a.`${f.name}`") <=> col(s"_b.`${f.name}`"))
        .reduce(_ && _)
      a.join(prev, same, "left_anti")
        .select(fields.map(f => col(s"_a.`${f.name}`").as(f.name)).toSeq: _*)
    }
  }

  /** Row-level CHANGE FEED between two committed versions — the read
    * shape of Hudi's incremental CDC query (incremental format `cdc`):
    * one row per key whose visible state differs between `sinceVersion`
    * and `untilVersion`, tagged `_change_type`:
    *
    *   - `insert` — key absent at since, present at until (after-image)
    *   - `update_postimage` — present at both with any column changed
    *     (after-image)
    *   - `delete` — present at since, absent at until (BEFORE-image,
    *     Hudi's cdc delete payload)
    *
    * A key whose row is identical at both versions emits nothing: the
    * feed is the NET visible diff, collapsing intermediate flips —
    * unlike [[incrementalBetween]] it carries tombstones, at the cost of
    * reading the before side too.
    *
    * Scale shape: the same changed-bucket pruning as
    * [[incrementalBetween]] (a carried-forward bucket cannot differ),
    * plus before-only buckets (emptied + dropped by a delete or
    * compaction — pure-tombstone sources). Both sides scan only those
    * buckets, the before side conforms to the until-version schema
    * (widening/column-add safe: a row that only gained a null column
    * compares equal), and the diff is ONE full-outer self-join on
    * `_key` with null-safe STRUCT equality — no per-column row
    * explosion, no driver-side state; cost ∝ change volume, never table
    * size.
    */
  def changesBetween(sinceVersion: Long, untilVersion: Long): DataFrame = {
    require(
      versions().contains(untilVersion),
      s"no committed version $untilVersion at $basePath")
    require(
      versions().contains(sinceVersion),
      s"no committed version $sinceVersion at $basePath")
    val newest = readManifest(untilVersion)
    val old = readManifest(sinceVersion)
    val changed = newest.allBuckets.filter { b =>
      old.buckets.get(b) != newest.buckets.get(b) ||
        old.deltas.getOrElse(b, Nil) != newest.deltas.getOrElse(b, Nil)
    } ++ (old.allBuckets -- newest.allBuckets)
    val after = readBuckets(newest, changed & newest.allBuckets)
    val beforeRaw = readBuckets(old, changed & old.allBuckets)
    val fields = after.schema.fields
    val before = beforeRaw.select(fields.map { f =>
      if (beforeRaw.columns.contains(f.name))
        col("`" + f.name + "`").cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
    val a = after.as("_a")
    val b = before.as("_b")
    def side(s: String, c: String) = col(s"$s.`$c`")
    val nonKey = fields.map(_.name).filterNot(_ == KeyCol)
    val aRow = struct(nonKey.map(side("_a", _)).toSeq: _*)
    val bRow = struct(nonKey.map(side("_b", _)).toSeq: _*)
    val changeType = when(side("_b", KeyCol).isNull, lit("insert"))
      .when(side("_a", KeyCol).isNull, lit("delete"))
      .when(!(aRow <=> bRow), lit("update_postimage"))
    a.join(b, side("_a", KeyCol) === side("_b", KeyCol), "full_outer")
      .withColumn(ChangeTypeCol, changeType)
      .filter(col(ChangeTypeCol).isNotNull)
      .select(col(ChangeTypeCol) +: fields.map(f =>
        when(side("_a", KeyCol).isNull, side("_b", f.name))
          .otherwise(side("_a", f.name)).as(f.name)).toSeq: _*)
  }

  /** `internal = true` keeps the partial-merge `_pts` meta column (the
    * write path's own reads need it to stay associative); every
    * user-facing route strips it.
    */
  private[lake] def readBuckets(
      m: Manifest, buckets: Set[Int], internal: Boolean = false,
      pruneFiles: Map[Int, Seq[String]] = Map.empty): DataFrame = {
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    // Reads are MANIFEST-driven, not constructor-driven: a bucket with a
    // delta stack (docs/MOR_DESIGN.md) is merged here whatever tableType
    // this handle was constructed with, so plain readers (snapshot
    // relation, incremental source, another writer configured cow) can
    // never observe unmerged delta rows.
    val deltaBuckets = buckets.filter(b => m.deltas.getOrElse(b, Nil).nonEmpty)
    // `pruneFiles` (from per-file column stats) narrows a bucket's scan
    // to named files — only ever populated for non-delta buckets by
    // statsPrunedFiles; an empty list means every file was excluded.
    val plainPaths = m.buckets.collect {
      case (b, dir) if buckets.contains(b) && !deltaBuckets.contains(b) =>
        pruneFiles.get(b) match {
          case Some(files) => files.map(f => s"$basePath/$dir/$f")
          case None => Seq(s"$basePath/$dir")
        }
    }.flatten.toSeq.sorted
    // Read under the manifest's (widened, drift-merged) schema instead of
    // a mergeSchema footer scan: no footer-merge job per read, columns a
    // file lacks come back null, and files written before a type widening
    // (int32 under a now-long column) upcast in the vectorized reader.
    // Files store PHYSICAL (birth) names — a renamed column reads under
    // its physical name and aliases back to the manifest's logical name
    // here (r20, the one read-side seam of the rename mapping; toDF is
    // positional, and physSchema preserves field order).
    val phys = LakeTable.physSchema(schema, m.renames)
    def logicalize(df: DataFrame): DataFrame =
      if (m.renames.isEmpty) df else df.toDF(schema.fieldNames: _*)
    val plain =
      if (plainPaths.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else logicalize(spark.read.schema(phys).parquet(plainPaths: _*))
    if (deltaBuckets.isEmpty) plain
    else {
      // Merge-on-read side: ONLY delta-carrying buckets pay the merge
      // aggregation; a mostly-compacted table reads at COW speed.
      val basePaths = m.buckets.collect {
        case (b, dir) if deltaBuckets.contains(b) => s"$basePath/$dir"
      }.toSeq.sorted
      val deltaPaths = deltaBuckets.toSeq.sorted
        .flatMap(b => m.deltas(b).map(d => s"$basePath/$d"))
      val metaSchema = schema
        .add(OpCol, org.apache.spark.sql.types.StringType)
        .add(DvCol, org.apache.spark.sql.types.LongType)
      val physMeta = phys
        .add(OpCol, org.apache.spark.sql.types.StringType)
        .add(DvCol, org.apache.spark.sql.types.LongType)
      def logicalizeMeta(df: DataFrame): DataFrame =
        if (m.renames.isEmpty) df else df.toDF(metaSchema.fieldNames: _*)
      val baseSide =
        if (basePaths.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], metaSchema)
        else logicalize(spark.read.schema(phys).parquet(basePaths: _*))
          // The base layer folds commits up to some version strictly below
          // every stacked delta's: version 0 orders it under all of them.
          .withColumn(OpCol, lit(UpsertOp)).withColumn(DvCol, lit(0L))
      val stacked = baseSide.unionByName(
        logicalizeMeta(spark.read.schema(physMeta).parquet(deltaPaths: _*)))
      // Partial tables collapse per-COLUMN (newest non-null by fragment
      // time); the mode is inferred from the manifest schema (`_pts` is
      // reserved, so its presence <=> mergeMode=partial wrote this
      // table), keeping reads manifest-driven whatever this handle's
      // construction says.
      val collapsed =
        if (schema.fieldNames.contains(PtsCol)) morPartialMerge(stacked, schema)
        else morMerge(stacked, schema)
      plain.unionByName(collapsed)
    }
  } match {
    // drop is a no-op on non-partial tables (no such column)
    case out if internal => out
    case out => out.drop(PtsCol)
  }

  /** Collapse a base+delta row stack to current state — the read-side
    * equivalent of the COW fold, row for row (the ScalaCheck equivalence
    * property in LakeMorSpec pins it):
    *  - the winning upsert per key is the max of `(_ts, delta version,
    *    content hash)` — the same comparator [[lwwMerge]] applies per
    *    commit, associatively collapsed over the stack (valid because LWW
    *    is monotone: a row that loses to ANY stacked row can never be
    *    state);
    *  - a delete tombstone at version v kills every upsert at version
    *    <= v whatever its `_ts` ([[merge]]'s deletes-win-in-batch rule at
    *    v itself, plain delete semantics below it); only tombstone-free
    *    later upserts survive. Tombstones live ONLY in delta files, so
    *    the delete-version aggregation is delta-sized (broadcastable),
    *    never corpus-sized.
    */
  private def morMerge(stacked: DataFrame, schema: StructType): DataFrame = {
    val cols = schema.fieldNames.toSeq
    val delVers = stacked.filter(col(OpCol) === DeleteOp)
      .groupBy(col(KeyCol)).agg(max(col(DvCol)).as("_del_v"))
    val live = stacked.filter(col(OpCol) === UpsertOp)
      .join(broadcastIfSmall(delVers), Seq(KeyCol), "left")
      .filter(col("_del_v").isNull || col(DvCol) > col("_del_v"))
    val hashIn = cols.map { c =>
      if (containsMap(schema(c).dataType)) to_json(col(c)) else col(c)
    }
    live
      .groupBy(col(KeyCol))
      .agg(max_by(
        struct(cols.map(col).toIndexedSeq: _*),
        struct(col(TsCol), col(DvCol), xxhash64(hashIn.toIndexedSeq: _*))).as("_r"))
      .select("_r.*")
  }

  /** Per-column stack collapse for `mergeMode=partial` MOR tables — the
    * read-side equivalent of [[partialMerge]], fragment for fragment:
    * tombstones kill fragments at delta version <= theirs exactly as in
    * [[morMerge]]; surviving fragments then compose per column, newest
    * non-null by EFFECTIVE time winning. A fragment's effective time for
    * column c is its recorded `_pts[c]` (base rows — they were composed
    * at the last fold) or its own `_ts` (raw delta fragments carry a
    * null `_pts` map — physically present since r14, stamped by every
    * write path). Ties order by
    * `(time, delta version, content hash)` — the same total order the
    * write-side fold applies with its old/new `_seq` tag, since a later
    * delta version IS the later batch; LakeMorSpec pins the randomized
    * equivalence against a cow partial table at every version.
    */
  private def morPartialMerge(stacked: DataFrame, schema: StructType): DataFrame = {
    val delVers = stacked.filter(col(OpCol) === DeleteOp)
      .groupBy(col(KeyCol)).agg(max(col(DvCol)).as("_del_v"))
    val live = stacked.filter(col(OpCol) === UpsertOp)
      .join(broadcastIfSmall(delVers), Seq(KeyCol), "left")
      .filter(col("_del_v").isNull || col(DvCol) > col("_del_v"))
    val cols = schema.fieldNames.toSeq // includes PtsCol on partial tables
    val payload = cols.filterNot(c => c == KeyCol || c == TsCol || c == PtsCol)
    // Tie-break hash input, in MANIFEST-SCHEMA order — which must match
    // partialMerge's union-column order (see the contract note there):
    // the in-batch tie-break for same-key same-time conflicting fragments
    // is only mor==cow-equivalent while both sides hash identical tuples.
    val hashIn = cols.map { c =>
      if (containsMap(schema(c).dataType)) to_json(col(c)) else col(c)
    }
    def fts(c: String) = coalesce(element_at(col(PtsCol), lit(c)), col(TsCol))
    def ord(c: String) =
      when(col(c).isNotNull,
        struct(fts(c), col(DvCol), xxhash64(hashIn.toIndexedSeq: _*)))
    val aggs =
      max(col(TsCol)).as(TsCol) +:
        map_from_arrays(
          array(payload.map(lit).toIndexedSeq: _*),
          array(payload.map(c => max(when(col(c).isNotNull, fts(c)))).toIndexedSeq: _*))
          .as(PtsCol) +:
        payload.map(c => max_by(col(c), ord(c)).as(c))
    live
      .groupBy(col(KeyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(cols.map(col).toIndexedSeq: _*)
  }

  /** Widest common type for the supported widenings (or None): numeric
    * int→long / float→double, recursively through structs (common fields
    * widen, new fields append — the parquet reader fills absent nested
    * fields with null and upcasts nested int32/float under an explicit
    * schema, verified on Spark 4.1.2) and arrays. Maps don't widen.
    */
  private[lake] def widen(a: DataType, b: DataType): Option[DataType] = {
    import org.apache.spark.sql.types._
    val integral: Seq[DataType] = Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    (a, b) match {
      case _ if a == b => Some(a)
      case (sa: StructType, sb: StructType) =>
        val widenedCommon = sa.fields.map { fa =>
          sb.fields.find(_.name == fa.name) match {
            case Some(fb) => widen(fa.dataType, fb.dataType).map(dt => fa.copy(dataType = dt))
            case None => Some(fa)
          }
        }
        if (widenedCommon.exists(_.isEmpty)) None
        else {
          val extra = sb.fields.filterNot(f => sa.fieldNames.contains(f.name))
          Some(StructType(widenedCommon.map(_.get) ++ extra))
        }
      case (ArrayType(ea, n1), ArrayType(eb, n2)) =>
        widen(ea, eb).map(ArrayType(_, n1 || n2))
      case _ if integral.contains(a) && integral.contains(b) =>
        Some(integral(integral.indexOf(a) max integral.indexOf(b)))
      case _ if fractional.contains(a) && fractional.contains(b) => Some(DoubleType)
      case _ => None
    }
  }

  /** True iff `dt` contains a MapType anywhere (hash expressions reject it). */
  private[lake] def containsMap(dt: DataType): Boolean = LakeTable.containsMap(dt)



  /** Bucket id for a key column — [[LakeTable.bucketOf]] at this table's width. */
  def bucketOf(key: Column): Column = LakeTable.bucketOf(key, numBuckets)

  // ---- write path ---------------------------------------------------------

  /** A commit write's bucket layout, which both the LWW aggregation and
    * the write repartition on: `expr` pins a row to the task that
    * HashPartitioning(bucket) gives its bucket's group among the affected
    * buckets, plus its key salt in [0, filesPerBucket). A bucket's rows so
    * reach at most `filesPerBucket` tasks (files), one per salt.
    */
  private final class BucketLayout(val partitions: Int, val expr: Column) {
    def apply(df: DataFrame): DataFrame = df.repartition(partitions, expr)
  }

  private def bucketLayout(affected: Int): BucketLayout = {
    val groups = affected.max(1)
    val task = pmod(hash(bucketOf(col(KeyCol))), lit(groups)) * filesPerBucket +
      pmod(hash(col(KeyCol)), lit(filesPerBucket))
    val codes = LakeTable.hashPartitionCodes(groups * filesPerBucket)
    new BucketLayout(codes.length, element_at(typedLit(codes), task + 1))
  }

  /** Merge `updates` (must contain `_key`, `_ts`) into the table:
    * last-write-wins per `_key` on `(_ts, arrival)` — an incoming row
    * replaces the stored row iff its `_ts` is >= the stored one.
    */
  def upsert(updates: DataFrame, commitId: String = ""): Unit =
    upsert(updates, commitId, None)

  /** [[upsert]] with the affected-bucket set PRE-COLLECTED by the caller
    * (r21): a partitioned dispatch computes every partition's bucket set
    * in ONE job over the staged batch instead of one distinct-collect job
    * per partition commit. The hint must equal the distinct buckets of
    * `updates`' keys — for an upsert that IS the affected set (no pruning
    * is involved), so semantics are unchanged.
    */
  private[graft] def upsert(
      updates: DataFrame, commitId: String, affectedHint: Option[Set[Int]]): Unit = {
    require(
      updates.columns.contains(TsCol),
      s"upsert data must contain a '$TsCol' column (got ${updates.columns.mkString(",")})")
    writeCommit(
      commitId,
      deltaRows = Some(df => df.withColumn(OpCol, lit(UpsertOp))),
      affectedFor = affectedHint.map(h => (_: Option[Manifest]) => Some(h)))(
      _ => updates)(lwwMerge)
  }

  /** Hash-agg LWW (map-side combinable): the row with max (_ts, _seq)
    * wins; updates beat the snapshot on equal _ts. Within-batch ties
    * (equal _ts AND _seq) break on a row-content hash: an arbitrary but
    * DETERMINISTIC total order, so replays and different partitionings
    * converge to the same table state. Callers with a semantic tie-break
    * (e.g. CdcSyncCommand's dedup.tiebreak.field) pre-dedup upstream.
    * Spark prohibits hash expressions over MapType — payload columns
    * containing a map anywhere in their type go through to_json first
    * (same bytes => same hash, so the order stays deterministic).
    * The aggregate runs on the write `layout` (its expression, a pure
    * function of `_key`, joins the grouping keys) and outputs `_key` as
    * the grouping attribute, so Spark sees the merged rows laid out and
    * drops the write's own repartition — one exchange per commit.
    */
  private def lwwMerge(old: DataFrame, upd: DataFrame, layout: BucketLayout): DataFrame =
    if (mergeMode == PartialMode) partialMerge(old, upd, layout)
    else overwriteMerge(old, upd, layout)

  private def overwriteMerge(
      old: DataFrame, upd: DataFrame, layout: BucketLayout): DataFrame = {
    val oldTagged = old.withColumn(SeqCol, lit(0L))
    val updTagged = upd.withColumn(SeqCol, lit(1L))
    val unioned = oldTagged.unionByName(updTagged, allowMissingColumns = true)
    val cols = unioned.columns.filter(_ != SeqCol)
    val hashIn = cols.map { c =>
      if (containsMap(unioned.schema(c).dataType)) to_json(col(c)) else col(c)
    }
    val payload = cols.filter(_ != KeyCol)
    layout(unioned).groupBy(layout.expr, col(KeyCol))
      .agg(max_by(
        struct(payload.map(col).toIndexedSeq: _*),
        struct(col(TsCol), col(SeqCol), xxhash64(hashIn.toIndexedSeq: _*))).as("_r"))
      .select(cols.map(c =>
        if (c == KeyCol) col(KeyCol) else col("_r").getField(c).as(c)).toIndexedSeq: _*)
  }

  /** `mergeMode=partial` (Hudi `PartialUpdateAvroPayload` semantics,
    * strengthened): per COLUMN, the newest non-null value BY EVENT TIME
    * wins — an update carrying only the changed columns (nulls elsewhere)
    * composes with the stored row instead of erasing it. Same single
    * hash-agg shape as the overwrite merge (one `max_by` per payload
    * column, all map-side combinable in one pass); the per-column
    * ordering nulls out where the column is null, which `max_by` skips.
    *
    * The stored row carries a reserved `_pts` map = each column's winning
    * fragment time. Without it the fold is NOT associative: the merged
    * row's single `_ts` is the max over ALL fragments, so once any column
    * advances it, a later-arriving middle-aged fragment for a DIFFERENT
    * column would lose to a stale stored value (measured on q85's mod-3
    * commit split — 68/150 keys wrong). With `_pts`, any commit order
    * converges to the same per-column winners, and `q85`'s oracle
    * recomputes them independently per column. `_ts` remains the max
    * across contributors — the row is as new as its newest fragment.
    *
    * A column holding a GENUINE null cannot be distinguished from
    * not-carried (the classic partial-update caveat — Hudi shares it);
    * use the overwrite mode when null is a value.
    */
  private def partialMerge(
      old: DataFrame, upd: DataFrame, layout: BucketLayout): DataFrame = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    val oldTagged = old.withColumn(SeqCol, lit(0L))
    val updTagged = upd.withColumn(SeqCol, lit(1L))
    val unioned0 = oldTagged.unionByName(updTagged, allowMissingColumns = true)
    val unioned =
      if (unioned0.columns.contains(PtsCol)) unioned0
      else unioned0.withColumn(PtsCol, lit(null).cast(MapType(StringType, LongType)))
    val payload = unioned.columns
      .filter(c => c != SeqCol && c != KeyCol && c != TsCol && c != PtsCol)
    // Tie-break hash input. COLUMN ORDER IS A CONTRACT (ADVICE r14):
    // morPartialMerge hashes the same tuple in manifest-schema order, and
    // the mor==cow equivalence for same-key same-time conflicting
    // fragments inside one batch holds only while the two orders agree.
    // They do: unioned here starts from the stored (manifest-schema-
    // ordered) frame and unionByName appends new columns in incoming
    // order — the same order mergedSchemaJson appends them to the
    // manifest. Change one side only and LakeMorSpec's randomized
    // equivalence seeds will catch it.
    val hashIn = unioned.columns.filter(_ != SeqCol).map { c =>
      if (containsMap(unioned.schema(c).dataType)) to_json(col(c)) else col(c)
    }
    // A column's effective time: its stored winning-fragment time on
    // merged rows, the row's own _ts on incoming fragments.
    def fts(c: String) = coalesce(element_at(col(PtsCol), lit(c)), col(TsCol))
    def ord(c: String) =
      when(col(c).isNotNull, struct(fts(c), col(SeqCol), xxhash64(hashIn.toIndexedSeq: _*)))
    val aggs =
      max(col(TsCol)).as(TsCol) +:
        map_from_arrays(
          array(payload.map(lit).toIndexedSeq: _*),
          array(payload.map(c => max(when(col(c).isNotNull, fts(c)))).toIndexedSeq: _*))
          .as(PtsCol) +:
        payload.map(c => max_by(col(c), ord(c)).as(c)).toSeq
    layout(unioned).groupBy(layout.expr, col(KeyCol))
      .agg(aggs.head, aggs.tail: _*)
      .select(((KeyCol +: TsCol +: payload) :+ PtsCol).map(col).toIndexedSeq: _*)
  }

  /** Apply a batch's upserts AND deletes as ONE commit — one manifest
    * publish, one bloom pass, one new version (VERDICT r8 #2: the CDC
    * micro-batch previously paid two full commit constants per table).
    * Semantics: LWW-merge `updates` into the affected buckets, then drop
    * rows whose `_key` is in `deleteKeys` (on overlap, deletes win; the
    * CDC caller's LWW split makes the two sides disjoint anyway).
    *
    * Delete keys are bloom-pruned against EACH commit attempt's manifest
    * (same rule as [[delete]]); proven-absent keys mark no bucket
    * affected, so a batch of only-absent deletes and no upserts commits
    * no version at all.
    */
  def merge(updates: DataFrame, deleteKeys: DataFrame, commitId: String = ""): Unit =
    merge(updates, deleteKeys, commitId, None)

  /** [[merge]] with a caller-collected affected-bucket hint (r21):
    * `affectedHint` must equal the distinct buckets of `updates`' keys ∪
    * ALL of `deleteKeys`' buckets. It is consumed ONLY when the attempt's
    * manifest provably cannot bloom-prune anything (no sidecars anywhere
    * and every bucket occupied — then the computed affected set would be
    * byte-identical to the hint); any prunable manifest falls back to the
    * per-commit computation, preserving the absent-delete write-avoidance
    * and the all-absent no-commit short-circuit exactly.
    */
  private[graft] def merge(
      updates: DataFrame, deleteKeys: DataFrame, commitId: String,
      affectedHint: Option[Set[Int]]): Unit = {
    require(
      updates.columns.contains(TsCol),
      s"merge updates must contain a '$TsCol' column (got ${updates.columns.mkString(",")})")
    val delCol = "_graft_del"
    val hintFor = affectedHint.map(h => (prev: Option[Manifest]) => prev match {
      // empty table: inc = updates ∪ in-batch delete keys ⊆ the hint, and
      // the hint is non-empty iff the batch carries rows — same decision.
      case None => Some(h)
      case Some(m)
          if m.bloomFiles.isEmpty && m.deltaBlooms.isEmpty &&
            m.allBuckets.size == numBuckets => Some(h)
      case _ => None // prunable manifest: compute per-commit (exact prune)
    })
    writeCommit(
      commitId, manifestDependent = true,
      deltaRows = Some(df => df
        .withColumn(OpCol, when(col(delCol), lit(DeleteOp)).otherwise(lit(UpsertOp)))
        .drop(delCol)),
      affectedFor = hintFor) { prev =>
      val ks = deleteKeys.select(KeyCol).distinct()
      // The bloom reflects PRE-batch state: a key this very batch upserts
      // must survive the prune, or upsert-then-delete-in-one-batch would
      // resurrect it (small semi-join of two batch-sized key sets).
      val inBatch = ks.join(updates.select(KeyCol), Seq(KeyCol), "left_semi")
      val pruned = prev match {
        case Some(m) => bloomPrune(ks, m).unionByName(inBatch).distinct()
        case None => inBatch // empty table: only in-batch keys can match
      }
      updates.withColumn(delCol, lit(false))
        .unionByName(pruned.withColumn(delCol, lit(true)), allowMissingColumns = true)
    } { (old, inc, layout) =>
      val ups = inc.filter(!col(delCol)).drop(delCol)
      val ks = inc.filter(col(delCol)).select(KeyCol)
      // The delete anti-join stays POST-agg: a pre-agg drop on the union
      // gets pushed through the Union by the optimizer
      // (PushLeftSemiLeftAntiThroughUnion-style rewrites), duplicating
      // the pruned-keys broadcast subtree into BOTH branches — measured
      // +3 broadcast-materialization jobs per commit on q113. A broadcast
      // anti-join keeps the aggregate's layout; after a shuffle join the
      // write's own repartition stays in the plan.
      lwwMerge(old.drop(delCol), ups, layout)
        .join(broadcastIfSmall(ks), Seq(KeyCol), "left_anti")
    }
  }

  /** Bulk/initial-load fast path — the reference's `insert`/`bulk_insert`
    * write operations (`BinlogSyncHoodieCommand.scala:172-183` routes them
    * past the upsert merge): appends rows WITHOUT the last-write-wins
    * hash-aggregation. Affected buckets are unioned with incoming rows, so
    * an initial 100 TB load pays zero merge shuffle against the (empty)
    * snapshot instead of a full-corpus groupBy.
    *
    * Caller contract (same as Hudi `insert`): incoming keys must be new —
    * neither duplicated in-batch nor already stored — otherwise the table
    * carries duplicate `_key` rows and the LWW invariant no longer holds.
    * Use [[upsert]] when that can't be guaranteed.
    *
    * `sortMode` mirrors Hudi's bulk-insert sort modes:
    *  - `"partition"` (default) — one repartition on the bucket id, so each
    *    bucket lands as one file group (the upsert layout);
    *  - `"none"` — ZERO shuffle: every input task writes straight into the
    *    bucket dirs it sees (up to tasks × buckets files). The mode for
    *    initial loads where the shuffle itself is the bottleneck; follow
    *    with compaction (upsert cycles or vacuum) if file counts matter.
    */
  def bulkInsert(
      rows: DataFrame, commitId: String = "", sortMode: String = "partition"): Unit =
    bulkInsert(rows, commitId, sortMode, None)

  /** [[bulkInsert]] with a caller-collected affected-bucket hint — same
    * contract as the [[upsert]] overload (r21): the hint must equal the
    * distinct buckets of `rows`' keys.
    */
  private[graft] def bulkInsert(
      rows: DataFrame, commitId: String, sortMode: String,
      affectedHint: Option[Set[Int]]): Unit = {
    require(
      rows.columns.contains(TsCol),
      s"bulkInsert data must contain a '$TsCol' column (got ${rows.columns.mkString(",")})")
    require(
      sortMode == "partition" || sortMode == "none",
      s"sortMode must be 'partition' or 'none', got '$sortMode'")
    writeCommit(
      commitId, shuffle = sortMode == "partition",
      affectedFor = affectedHint.map(h => (_: Option[Manifest]) => Some(h)))(
      _ => rows) { (old, inc, _) =>
      old.unionByName(inc, allowMissingColumns = true)
    }
  }

  /** Rewrite every live bucket as a fresh file group — the compaction
    * step after zero-shuffle bulk loads (`bulkInsert(sortMode = "none")`
    * leaves up to tasks × buckets small files; compact coalesces each
    * bucket back to `filesPerBucket` files). State is unchanged; one new
    * version is committed (old snapshots reclaim via [[vacuum]]).
    */
  def compact(commitId: String = ""): Unit =
    if (latestManifest().isDefined)
      // Affected = every manifest bucket (base or delta), NOT the buckets
      // named by snapshot keys: a fully-tombstoned bucket has no live keys
      // but still carries a base+delta stack that must fold away (its
      // merged state is empty → no b=<i> dir is written → the bucket and
      // its stack drop from the manifest).
      writeCommit(
        commitId, manifestDependent = true,
        affectedFor = Some(m => Some(m.map(_.allBuckets).getOrElse(Set.empty))))(
        _ => snapshot) { (_, inc, _) => inc }

  /** Remove all rows whose `_key` appears in `keys` (a 1-column `_key` DF,
    * or any DF containing `_key`). Mirrors the reference's delete routing
    * (`BinlogSyncHoodieCommand.scala:186-190`) as a left-anti join.
    */
  def delete(keys: DataFrame, commitId: String = ""): Unit = {
    if (latestManifest().isEmpty) return // nothing to delete from
    // Bloom-prune the key set BEFORE buckets are marked affected: a key
    // whose bucket bloom proves absence cannot delete anything, so buckets
    // (and at the partitioned level, whole partitions) that only received
    // proven-absent keys are never rewritten — and if every key is absent
    // the commit short-circuits with NO new version. The filter runs
    // distributed over the key set (blooms deserialize once per task, no
    // key ever reaches the driver). The prune binds to EACH commit
    // attempt's manifest: re-pruning against a stale pre-race manifest
    // would let a concurrent writer's fresh inserts dodge the delete.
    writeCommit(
      commitId, manifestDependent = true,
      deltaRows = Some(df => df.withColumn(OpCol, lit(DeleteOp)))) {
      case Some(m) => bloomPrune(keys.select(KeyCol).distinct(), m)
      case None => keys.select(KeyCol).distinct()
    } { (old, ks, _) => old.join(broadcastIfSmall(ks), Seq(KeyCol), "left_anti") }
  }

  /** Per-bucket sidecar layers of `m`: one entry per data layer — the
    * base file group (when present) plus each stacked delta dir — `None`
    * marking a layer written without a sidecar (unprunable). The input to
    * [[BloomKeyLookup]]'s OR-composition.
    */
  private[lake] def bloomLayers(m: Manifest): Map[Int, Seq[Option[String]]] =
    m.allBuckets.iterator.map { b =>
      val base: Seq[Option[String]] =
        if (m.buckets.contains(b)) Seq(m.bloomFiles.get(b)) else Nil
      val nDeltas = m.deltas.getOrElse(b, Nil).size
      val withSidecars = m.deltaBlooms.getOrElse(b, Nil).map(Option(_))
      // deltaBlooms holds one path per sidecar-carrying delta commit; pad
      // to the stack depth so sidecar-less layers read as unprunable
      // (order is irrelevant under OR — only the count contract matters).
      b -> (base ++ withSidecars ++ Seq.fill(nDeltas - withSidecars.size)(None))
    }.toMap

  private[lake] def bloomPrune(ks: DataFrame, m: Manifest): DataFrame =
    // No sidecars and every bucket occupied -> nothing can prove absence;
    // skip the filter pass entirely.
    if (m.bloomFiles.isEmpty && m.deltaBlooms.isEmpty &&
        m.allBuckets.size == numBuckets) ks
    else {
      // The lookup ships only sidecar PATHS with the plan (at thousands
      // of buckets the filter BYTES would be GBs in the task binary);
      // tasks lazy-load just the blooms their rows hash to, and the
      // filter runs through the codegen'd native expression (no UDF node
      // — the prune stage stays in WholeStageCodegen). For wide tables
      // the key set is bucket-aligned first so each task opens
      // O(buckets/tasks) sidecars instead of potentially all of them;
      // narrow tables skip that shuffle (every task can afford 64 loads).
      import org.apache.spark.sql.graft.Exprs
      val lookup = new BloomKeyLookup(
        bloomLayers(m), basePath,
        new org.apache.spark.util.SerializableConfiguration(
          spark.sparkContext.hadoopConfiguration),
        numBuckets)
      // The alignment shuffle exists only to bound per-task sidecar
      // opens — with no sidecars at all (bloomOnWrite=false, pruning on
      // bucket presence alone) it would be a pure waste.
      val aligned =
        if (numBuckets <= 64 || (m.bloomFiles.isEmpty && m.deltaBlooms.isEmpty)) ks
        else ks.repartition(bucketOf(col(KeyCol)))
      aligned.filter(Exprs.column(graft.functions.BloomMightContainExpr(
        Exprs.expression(col(KeyCol)), lookup)))
    }

  /** Point lookup of a set of keys: prunes to the buckets the keys hash to,
    * then (if bloom sidecars exist) skips buckets whose bloom filter proves
    * absence — the engine's answer to Hudi's bloom-index file pruning
    * (`/root/reference/src/main/java/tech/odes/common/util/BloomFilter.java:75-103`).
    *
    * `atVersion` pins the manifest the lookup reads (snapshot-consistent
    * routed reads — see `LakeSnapshotRelation`); default = latest.
    */
  def lookup(keys: Seq[String], atVersion: Option[Long] = None): DataFrame =
    atVersion.map(readManifest).orElse(latestManifest()) match {
    case None => snapshot
    case Some(m) =>
      val layers = bloomLayers(m)
      val wanted = keys.map(k => bucketOfKey(k, numBuckets)).toSet
      val pruned = wanted.filter { b =>
        layers.get(b) match {
          case None => false // bucket holds no data at all
          case Some(ls) => ls.exists {
            case None => true // layer without a sidecar: cannot prune
            case Some(rel) =>
              // Same vanished-sidecar race as BloomKeyLookup (concurrent
              // commit + vacuum): degrade to cannot-prune, don't crash.
              try {
                val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
                  new java.io.ByteArrayInputStream(
                    io.readBytes(new HPath(basePath, rel))))
                keys.exists(k =>
                  bucketOfKey(k, numBuckets) == b && bf.mightContainString(k))
              } catch { case _: java.io.FileNotFoundException => true }
          }
        }
      }
      readBuckets(m, pruned).filter(col(KeyCol).isin(keys: _*))
  }

  /** Distributed key-membership probe — [[lookup]]'s sibling for
    * BATCH-sized key sets (the read side of Hudi's bloom index, e.g.
    * "which of this ingest batch's content hashes does the corpus already
    * hold?"): returns the distinct keys of `keys` (a `_key` DataFrame)
    * that exist in the table. Bloom sidecars first prove most absent keys
    * absent — the codegen'd [[graft.functions.BloomMightContainExpr]]
    * pass, fully distributed, no key ever on the driver — then ONLY the
    * buckets the surviving candidates hash to are scanned, and the
    * candidate set joins in as the broadcast build side of a semi-join:
    * the table side streams, never shuffles. The bloom pass is evaluated
    * twice (bucket choice + under the join) but sidecars are lazy-loaded
    * and cached per task, so the second pass costs hashing only.
    * `atVersion` pins the manifest (snapshot-consistent probes).
    *
    * `keys` must be DETERMINISTIC (same double-eval seam as the delete and
    * incremental paths): the plan is evaluated once to choose candidate
    * buckets and again under the semi-join, so a non-stable source
    * (sampling, uuid(), a table mutating between the two jobs) can hash a
    * key to a bucket the first pass never selected — the key silently
    * reads as absent. Materialize such inputs (persist/write) first.
    */
  def probeKeys(keys: DataFrame, atVersion: Option[Long] = None): DataFrame =
    atVersion.map(readManifest).orElse(latestManifest()) match {
      case None => keys.select(KeyCol).limit(0)
      case Some(m) => matchingRows(keys, m).select(KeyCol).distinct()
    }

  /** [[probeKeys]]'s row-returning sibling — the FULL stored rows whose
    * `_key` appears in `keys`, through the same bloom-pruned
    * candidate-bucket broadcast-semi shape (and the same determinism
    * contract on `keys`). The read side of a read-modify-write: SQL
    * MERGE's partial `UPDATE SET` lists compose assigned columns with
    * the stored row instead of nulling what they omit (r17). Keys are
    * unique in a snapshot (the upsert invariant), so no dedup is needed
    * beyond the candidate set's own distinct. An empty (never-committed)
    * table yields a zero-column empty frame — callers conform it to
    * their schema.
    */
  def rowsForKeys(keys: DataFrame, atVersion: Option[Long] = None): DataFrame =
    atVersion.map(readManifest).orElse(latestManifest()) match {
      case None => spark.emptyDataFrame
      case Some(m) => matchingRows(keys, m)
    }

  /** Shared probe core: bloom-prune the key set, scan only the buckets
    * surviving candidates hash to, semi-join the (broadcast) candidates.
    * The distinct key set is MATERIALIZED once (r18): the candidate
    * collect and the semi-join are two separate ACTIONS, so AQE can
    * never share the distinct's shuffle between them — without the
    * checkpoint the key set shuffles twice per probe. Batch-bounded by
    * contract; this also hardens the documented determinism seam (a
    * nondeterministic keys plan can no longer split between the two
    * passes).
    */
  private def matchingRows(keys: DataFrame, m: Manifest): DataFrame = {
    val cand = bloomPrune(keys.select(KeyCol).distinct().localCheckpoint(), m)
    // Candidate buckets: tiny driver collect (≤ numBuckets ints).
    val wanted = cand.select(bucketOf(col(KeyCol)).as("_b")).distinct()
      .collect().map(_.getInt(0)).toSet
    if (wanted.isEmpty) readBuckets(m, Set.empty).limit(0)
    else readBuckets(m, wanted)
      .join(broadcastIfSmall(cand), Seq(KeyCol), "left_semi")
  }

  /** Broadcast hint only when the optimizer's size estimate fits under the
    * session's autoBroadcastJoinThreshold. Delete key sets and
    * `incremental()` prev sides are unbounded at scale — an unconditional
    * hint would hit the broadcast size limit / driver OOM instead of
    * degrading to a shuffle join; with no hint AQE picks the strategy.
    */
  private[lake] def broadcastIfSmall(df: DataFrame): DataFrame = {
    val threshold =
      org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val estimate = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (threshold > 0 && estimate <= BigInt(threshold)) broadcast(df) else df
  }

  /** Common commit protocol: figure out affected buckets, run `merge` over
    * (old rows of those buckets, incoming), write only those buckets, link
    * forward the rest, atomically publish the manifest.
    *
    * `incomingFor` derives the effective incoming rows FROM the manifest a
    * given attempt merges against (delete uses it to bloom-prune its key
    * set): when `manifestDependent`, it re-evaluates on every
    * optimistic-concurrency retry, so a stale pre-race manifest can never
    * decide what the commit touches; manifest-independent callers
    * (upsert/bulkInsert/compact) persist their incoming ONCE and reuse it
    * across retries — no recompute of the full incoming plan per attempt.
    */
  private def writeCommit(
      commitId: String,
      shuffle: Boolean = true,
      manifestDependent: Boolean = false,
      deltaRows: Option[DataFrame => DataFrame] = None,
      // r21: returns Some(buckets) to override the per-commit affected
      // distinct-collect job, or None to fall back to computing it from
      // `inc` against this attempt's manifest (the merge hint's
      // prunable-manifest escape).
      affectedFor: Option[Option[Manifest] => Option[Set[Int]]] = None)(
      incomingFor: Option[Manifest] => DataFrame)(
      merge: (DataFrame, DataFrame, BucketLayout) => DataFrame): Unit = synchronized {
    // Entry idempotency scan and the incremental gates below share ONE
    // versions() snapshot: deriving scannedThrough from a LATER listing
    // would let a same-commitId commit that landed mid-scan fall between
    // the full scan and the `> scannedThrough` filter — and be applied
    // twice.
    val seenVersions = versions()
    if (commitId != null && commitId.nonEmpty && (
        seenVersions.exists(v => manifestCommitId(v).contains(commitId)) ||
          vacuumedIds.values.exists(_ == commitId)))
      return // idempotent replay (ONE full history scan)

    // Cheap incremental idempotency gate for the retry loop: the entry
    // check above already scanned the full history, so later gates only
    // need to look at versions committed SINCE then — a handful of
    // manifest reads, not O(table age) per gate (a long-lived CDC table
    // has thousands of versions). Versions a concurrent vacuum tombstones
    // mid-gate resolve through vacuumedIds instead of crashing the batch.
    val scannedThrough = seenVersions.lastOption.getOrElse(0L)
    def freshlyCommitted(): Boolean = commitId != null && commitId.nonEmpty && {
      val vac = vacuumedIds
      versions().filter(_ > scannedThrough).exists(v =>
        manifestCommitId(v).orElse(vac.get(v)).contains(commitId)) ||
        vac.exists { case (v, id) => v > scannedThrough && id == commitId }
    }

    // Optimistic-concurrency loop: merge against the latest manifest and
    // try to publish the next version; when a CONCURRENT writer wins the
    // publish race, re-read its manifest and re-merge on top of it
    // (bounded attempts) — two CDC streams on one table both make
    // progress instead of one failing its batch. The orphaned data dir
    // of a lost attempt is removed before retrying.
    var attempt = 0
    var committed = false
    var reused: Option[DataFrame] = None // persisted-once incoming (manifest-independent)
    try while (!committed) {
      // A concurrent delivery of the SAME commitId may have landed while
      // this writer was merging: re-check before every attempt (and again
      // right before publish) so a replayed batch can't apply twice.
      if (attempt > 0 && freshlyCommitted()) return
      val prev = latestManifest()
      // The table's merge mode is RECORDED state (`_pts` in the manifest
      // schema <=> written partial), and the read side dispatches on it —
      // so the write side must too: an overwrite-handle upsert (or fold)
      // on a partial table would whole-row-replace composed rows (nulling
      // previously composed columns with no error), and a partial-handle
      // upsert on an overwrite table would flip every reader's collapse
      // semantics for existing rows. Loud beats either silent corruption.
      prev.foreach { m =>
        val tablePartial = DataType.fromJson(m.schemaJson)
          .asInstanceOf[StructType].fieldNames.contains(PtsCol)
        require(tablePartial == (mergeMode == PartialMode),
          if (tablePartial)
            s"table at $basePath is mergeMode=$PartialMode (its schema carries " +
              s"$PtsCol) but this handle was constructed mergeMode=$mergeMode — " +
              "open the handle with mergeMode=partial"
          else
            s"table at $basePath is mergeMode=$OverwriteMode but this handle " +
              s"was constructed mergeMode=$PartialMode — partial and overwrite " +
              "histories cannot mix on one table (a pre-r14 partial table " +
              "whose history is merge-free — bulkInsert only — migrates via " +
              "latchPartial())")
      }
      // r21: a caller-provided affected set means `inc` is evaluated at
      // most once per attempt (the write itself) AND the hinted callers
      // stabilize their input upstream (writePartitions' staged cache) —
      // an inner persist would re-encode every partition's slice of an
      // already-cached batch for nothing. Unhinted commits keep the
      // persist: `affected` + the write are two evaluations.
      // r22 (ADVICE r21): the decision binds to whether the hint RESOLVES
      // for THIS attempt's manifest — a hinted merge falling back to the
      // per-commit computation (prunable manifest) evaluates `inc` twice
      // and must persist like any unhinted commit.
      val hinted: Option[Set[Int]] = affectedFor.flatMap(_(prev))
      val stabilize = hinted.isEmpty
      val inc =
        if (manifestDependent) {
          val d = incomingFor(prev); if (stabilize) d.persist() else d
        } else reused.getOrElse {
          val d = incomingFor(prev); if (stabilize) d.persist(); reused = Some(d); d
        }
      try {
        require(
          inc.columns.contains(KeyCol),
          s"incoming data must contain a '$KeyCol' column (got ${inc.columns.mkString(",")})")
        // The delta meta columns are RESERVED table-wide, not just on mor
        // handles: cow and mor handles interoperate on one table, and the
        // manifest schema never carries _op/_dv (the filter below) — a cow
        // write with a payload column of either name would persist the
        // column to parquet but silently drop it from every read (ADVICE
        // r11 #1). Loud on EVERY write path so the invariant can't depend
        // on which handle type a batch happens to take.
        // BucketCol ('b') is reserved too (r14): the write path derives it
        // with withColumn, which would silently REPLACE a payload column
        // of that name — and partitionBy then strips it from the files,
        // so the payload column reads back all-null. Loud beats data loss.
        Seq(OpCol, DvCol, PtsCol, BucketCol).foreach(c => require(
          !inc.columns.contains(c),
          s"'$c' is a reserved lake meta column — rename the " +
            s"payload column (incoming: ${inc.columns.mkString(",")})"))
        // Affected buckets: tiny driver collect (≤ numBuckets ints).
        // `affectedFor` overrides the key-derived set for commits that must
        // touch buckets their incoming rows can't name — compact() passes
        // every manifest bucket, else a bucket whose rows are ALL
        // tombstoned yields no snapshot keys and its base+tombstone delta
        // stack would survive compaction forever (ADVICE r11 #3).
        // r21: the distinct-bucket set collects via ONE exchange-free RDD
        // aggregate (per-task BitSet, OR-merged on the driver — bounded by
        // numBuckets bits) instead of distinct().collect(): the old shape
        // planned an exchange, so AQE ran 2-3 stage jobs per commit for a
        // handful of ints.
        val affected = hinted.getOrElse(
          withJobDesc("affected")(LakeTable.collectBuckets(
            inc.select(bucketOf(col(KeyCol)).as("b")), numBuckets)))
        if (affected.isEmpty) return // empty batch short-circuit (ref :118-120)
        val version = prev.map(_.version).getOrElse(0L) + 1L
        // Merge-on-read delta commit (docs/MOR_DESIGN.md): when this
        // handle is mor, the operation is delta-eligible (upsert / merge /
        // delete — never bulkInsert/compact), there is a base to layer on,
        // and no affected bucket's stack has hit `compactAfter`, the
        // commit writes ONLY the incoming rows (op-tagged, stamped with
        // this attempt's version) and appends them to the buckets' delta
        // stacks — O(batch) write cost, nothing read. Otherwise (cadence
        // reached, or a cow handle touching a delta-carrying table) the
        // commit FOLDS: `readBuckets` merges base+deltas into `old`, the
        // normal merge runs, and the affected buckets' stacks reset.
        // Whole-commit granularity: hash buckets receive near-uniform
        // traffic, so per-bucket fold decisions would buy little for the
        // complexity.
        val asDelta = deltaRows.isDefined && prev.isDefined &&
          tableType == MorType &&
          affected.forall(b =>
            prev.get.deltas.getOrElse(b, Nil).size < compactAfter)
        val layout = bucketLayout(affected.size)
        val merged0 =
          if (asDelta)
            deltaRows.get(inc).withColumn(DvCol, lit(version))
          else {
            val old = prev match {
              case Some(m) => readBuckets(m, affected, internal = true)
              case None =>
                spark.createDataFrame(
                  spark.sparkContext.emptyRDD[Row],
                  inc.schema.fields.foldLeft(new StructType()) { (s, f) => s.add(f) })
            }
            merge(old, inc, layout)
          }
        // Partial tables carry `_pts` in EVERY commit's schema (null map
        // where the path didn't compose one — delta fragments, bulkInsert):
        // readers infer the partial stack collapse from the manifest
        // schema, so the column must be present from the first commit
        // whatever write path it took. Null `_pts` reads as "effective
        // time = the row's own _ts", which is exactly right for raw rows.
        val merged =
          if (mergeMode == PartialMode && !merged0.columns.contains(PtsCol))
            merged0.withColumn(PtsCol, lit(null).cast(
              org.apache.spark.sql.types.MapType(
                org.apache.spark.sql.types.StringType,
                org.apache.spark.sql.types.LongType)))
          else merged0

        val relDir = s"$DataDirName/${"v%08d".format(version)}-${UUID.randomUUID().toString.take(8)}"
        val outDir = s"$basePath/$relDir"
        // r20 rename mapping, write side: carry the previous manifest's
        // logical->physical map forward and assign fresh physical names
        // to colliding NEW columns (see LakeTable.assignPhysical). Files
        // are written under physical names below — the one write-side
        // seam, mirroring readBuckets' read-side alias.
        val prevRetired = prev.map(_.retired).getOrElse(Nil)
        val newRenames = LakeTable.assignPhysical(
          prev.map(m => DataType.fromJson(m.schemaJson).asInstanceOf[StructType]),
          prev.map(_.renames).getOrElse(Map.empty), prevRetired,
          merged.schema.fieldNames)
        // At most `filesPerBucket` files per bucket per version (the Hudi
        // bucket-index layout; see BucketLayout); the partition count scales
        // with touched buckets, not table size. `filesPerBucket > 1` adds
        // intra-bucket write parallelism — raise it with numBuckets at scale.
        val toWrite = merged.withColumn(BucketCol, bucketOf(col(KeyCol)))
        // Optional Z-order clustering: the Morton-code sort key (in
        // UNSIGNED order — the 4-D interleave places dim-4 bit 15 at bit
        // 63, and the 2-D code's bit 63 is the second dimension's bit 31,
        // so a signed sort would break the curve at its most significant
        // bit; XOR with Long.MinValue is the standard unsigned-order map,
        // a no-op reordering for the always-non-negative 3-D codes).
        // Per-type MONOTONE long lane encodings (r20, VERDICT r19 #4):
        // numerics cast; timestamps/dates take the statNorm epoch
        // encodings (micros / days — a raw long cast of a timestamp is
        // SECONDS, losing sub-second order, and a date doesn't cast at
        // all); strings take their first 7 UTF-8 bytes as a big-endian
        // non-negative long — monotone in Spark's own byte order, the
        // same order string sidecar bounds compare under (a fixed-prefix
        // code: ties beyond 7 bytes share a lane cell, which only blurs
        // cluster edges — clustering is just a sort). Everything else
        // (boolean, binary, arrays) stays invalid — run_clustering and
        // the handle validation reject it up front.
        def zLane(name: String): org.apache.spark.sql.Column = {
          val c = col("`" + name.replace("`", "``") + "`")
          merged.schema.fields.find(_.name == name).map(_.dataType) match {
            case Some(org.apache.spark.sql.types.TimestampType) => unix_micros(c)
            case Some(org.apache.spark.sql.types.DateType) => unix_date(c)
            case Some(org.apache.spark.sql.types.StringType) =>
              conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 7)), 14, "0"), 16, 10)
                .cast("long")
            case _ => c.cast("long")
          }
        }
        // Every arity scales each dimension into its Morton lane by the
        // COMMIT's own min/max — a monotone affine map that clusters
        // epoch-micro timestamps, string prefix codes, and small ids
        // alike (clustering is only a sort: per-commit normalization
        // cannot affect results). r20: the 2-D path normalizes too (32-bit
        // lanes) — its former raw-bits interleave degenerated to a 1-D
        // sort whenever one lane's magnitude dwarfed the other's
        // (epoch-scale lanes have CONSTANT high bits, so the curve never
        // tiled the temporal dimension). Costs one tiny 2N-scalar agg
        // over the outgoing rows per commit, the trade the 3/4-D path
        // already made.
        def normLanes(
            dims: Seq[String], bits: Int): Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
          import org.apache.spark.sql.graft.Exprs
          val maxCode = (1L << bits) - 1
          val aggs = dims.flatMap(d =>
            Seq(min(zLane(d)), max(zLane(d))))
          val st = merged.agg(aggs.head, aggs.drop(1): _*).collect()(0)
          dims.zipWithIndex.map { case (d, i) =>
            val mn = if (st.isNullAt(2 * i)) 0L else st.getLong(2 * i)
            val mx = if (st.isNullAt(2 * i + 1)) mn else st.getLong(2 * i + 1)
            // range in exact arithmetic (mx - mn overflows long when the
            // dimension spans the full signed range), scale in double
            // (monotone; rounding collisions only blur cluster edges)
            val range = (BigDecimal(mx) - BigDecimal(mn)).max(1).toDouble
            Exprs.expression(greatest(
              lit(0L),
              least(
                lit(maxCode),
                floor((zLane(d).cast("double") - lit(mn.toDouble)) / lit(range) *
                  lit(maxCode.toDouble)).cast("long"))))
          }
        }
        val zKey: Option[org.apache.spark.sql.Column] = zorderBy match {
          case Seq(a, b) if merged.columns.contains(a) && merged.columns.contains(b) =>
            import org.apache.spark.sql.graft.Exprs
            val n = normLanes(Seq(a, b), 32)
            Some(Exprs.column(graft.functions.InterleaveBits(n(0), n(1)))
              .bitwiseXOR(lit(Long.MinValue)))
          case dims if dims.size >= 3 && dims.forall(merged.columns.contains) =>
            // 3-D/4-D: lane width shrinks with arity (21/16 bits)
            import org.apache.spark.sql.graft.Exprs
            val n = normLanes(dims, if (dims.size == 3) 21 else 16)
            Some(Exprs.column(
              if (dims.size == 3)
                graft.functions.InterleaveBits3(n(0), n(1), n(2))
              else
                graft.functions.InterleaveBits4(n(0), n(1), n(2), n(3)))
              .bitwiseXOR(lit(Long.MinValue)))
          case _ => None
        }
        val partitioned = zKey match {
          case _ if !shuffle => toWrite // bulkInsert sortMode=none: task-local write
          case Some(z) if filesPerBucket > 1 =>
            // Z-ordered multi-file buckets RANGE-partition on (bucket,
            // code): a bucket's files then TILE the Z-curve instead of
            // being hash-random row subsets, so the per-file column
            // stats recorded by writeStatsSidecar are near-disjoint
            // ranges on the clustered columns — the layout that makes
            // file-level stats pruning effective. Costs the range
            // exchange's sampling pass over the outgoing rows (the same
            // trade Hudi's sort-based clustering makes).
            toWrite.repartitionByRange(layout.partitions, col(BucketCol), z)
          // Always asked for: Spark's EnsureRequirements drops this
          // exchange when the merged rows already carry the layout (the
          // LWW aggregate ran on it), and keeps it otherwise.
          case _ => layout(toWrite)
        }
        // Sort rows by the Morton code within each task's file so parquet
        // row-group min/max stats prune range predicates on any clustered
        // dimension.
        val clustered = zKey match {
          case Some(z) => partitioned.sortWithinPartitions(col(BucketCol), z)
          case None => partitioned
        }
        // files store PHYSICAL names (r20). POSITIONAL rename (r21,
        // ADVICE r20 #1): each column maps through `newRenames`
        // independently, mirroring readBuckets' positional logicalize —
        // the old sequential withColumnRenamed fold was map-order
        // sensitive (after rename(X→Y) + re-adding X, applying Y→X while
        // the live X existed duplicated the name and bricked every later
        // write; ColumnRenameSpec pins the scenario).
        // Diagnostic only: dump the commit write's physical plan; the table
        // tag keeps tables (and partitions, sharing versions) apart.
        sys.env.get("GRAFT_EXPLAIN_WRITE").foreach { prefix =>
          val tag = s"${new HPath(basePath).getName}-${Integer.toHexString(basePath.hashCode)}"
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$prefix-$tag-v$version.txt"),
            clustered.queryExecution.explainString(
              org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) + "\n",
            java.nio.charset.StandardCharsets.UTF_8,
            java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        }
        withJobDesc(s"write v$version")(
          clustered.toDF(
            clustered.columns.map(c => newRenames.getOrElse(c, c)).toIndexedSeq: _*)
            .write.partitionBy(BucketCol).mode("errorifexists")
            .parquet(outDir))

        // Buckets that ended up empty after the merge have no b=<i> dir.
        val written: Set[Int] =
          io.list(new HPath(outDir)).collect { case BucketDirRe(b) => b.toInt }.toSet

        val newBuckets =
          if (asDelta) prev.get.buckets // bases untouched; deltas layer on
          else (prev.map(_.buckets).getOrElse(Map.empty) -- affected) ++
            written.map(b => b -> s"$relDir/$BucketCol=$b")
        val prevDeltas = prev.map(_.deltas).getOrElse(Map.empty)
        val newDeltas =
          if (asDelta)
            prevDeltas ++ written.map(b =>
              b -> (prevDeltas.getOrElse(b, Nil) :+ s"$relDir/$BucketCol=$b"))
          else prevDeltas -- affected // fold/cow rewrite resets the stacks

        // Bloom sidecars for rewritten buckets (key-pruning for lookup()),
        // built from the parquet just written (column-pruned key read) via a
        // distributed bloom merge — no keys ever reach the driver, and the
        // serialized filters are written as per-bucket `_bloom` FILES beside
        // the data by the executors that hold them (the manifest records only
        // their paths: inlining base64 blooms made the single manifest JSON
        // grow with buckets x bloom size — hundreds of MB at production
        // bucket counts, re-read on the driver for every commit; VERDICT r5
        // "What's wrong" #2). Two extra jobs per commit; `bloomOnWrite =
        // false` trades lookup pruning for write latency.
        // r22: one bounded-pool footer pass per commit feeds BOTH bloom
        // sizing and the stats sidecar (see readFooters).
        val writtenSchema = LakeTable.physSchema(merged.schema, newRenames)
        // Read footers only when they can actually serve someone: bloom
        // sizing, or a stats sidecar whose EVERY eligible column could be
        // footer-convertible (cheap Spark-type pre-check — e.g. INT96
        // timestamps can never convert, so such commits skip the per-file
        // footer round-trips entirely) and the escape hatch is off. A
        // skipped-footer commit keeps correctness via the agg fallback.
        val statPhys = statsColumns.map(c => newRenames.getOrElse(c, c))
        val statEligible = statPhys.filter(c =>
          writtenSchema.fields.exists(f => f.name == c && statable(f.dataType)))
        def maybeConvertible(dt: DataType): Boolean = dt match {
          case org.apache.spark.sql.types.TimestampType =>
            spark.sessionState.conf.parquetOutputTimestampType ==
              org.apache.spark.sql.internal.SQLConf
                .ParquetOutputTimestampType.TIMESTAMP_MICROS
          case d: org.apache.spark.sql.types.DecimalType => d.precision <= 18
          case _ => true // the other statable lanes map to INT32/INT64/FLOAT/DOUBLE/UTF-8
        }
        val footerStatsWanted =
          !sys.props.get("graft.lake.stats.noFooter").exists(_.toBoolean) &&
            statEligible.nonEmpty && statEligible.forall(c =>
              maybeConvertible(writtenSchema.fields.find(_.name == c).get.dataType))
        val footers =
          if (bloomOnWrite || footerStatsWanted)
            readFooters(relDir, written,
              if (footerStatsWanted) statEligible.toSet else Set.empty)
          else Map.empty[Int, Seq[LakeTable.FileFooter]]
        val sidecars =
          if (bloomOnWrite) writeBloomSidecars(relDir, written, footers)
          else Map.empty[Int, String]
        // Column min/max stats (opt-in, like Hudi's metadata-table
        // col_stats): ONE distributed min/max agg over just-written
        // files, a tiny scalar collect, one _stats.json per commit dir.
        // r15 (VERDICT r14 #3): DELTA commits record their own sidecar
        // too (the batch was just written — the scan is delta-sized),
        // stacked in `deltaStats` alongside `deltas`; readers prune a
        // delta-carrying bucket when base ∪ every-delta-layer ranges
        // exclude the predicate, so high-churn MOR tables keep pruning
        // between folds instead of going stats-dark.
        val statsPath =
          if (statsColumns.nonEmpty)
            writeStatsSidecar(relDir, written, newRenames, writtenSchema, footers)
          else None
        val newStats =
          if (asDelta) prev.map(_.statsFiles).getOrElse(Map.empty)
          else (prev.map(_.statsFiles).getOrElse(Map.empty) -- affected) ++
            statsPath.toSeq.flatMap(p => written.map(_ -> p))
        val prevDeltaStats = prev.map(_.deltaStats).getOrElse(Map.empty)
        // A PURE-DELETE delta batch (the delete() path's shape: key + op
        // tags, no payload, no _ts — upsert/merge batches always carry
        // _ts) has nothing statable, but deletes only REMOVE rows, so the
        // layer provably adds nothing to any value range: record the
        // EmptyStatsLayer sentinel to keep the stack aligned instead of
        // going stats-dark until fold (r16, VERDICT r15 #3). Any OTHER
        // sidecar-less batch (e.g. an upsert missing the stat column)
        // still misaligns the stack — the read side then never prunes,
        // the conservative default.
        val deleteShaped = merged.schema.fieldNames.forall(
          Set(KeyCol, OpCol, DvCol, PtsCol).contains)
        val deltaStatsLayer = statsPath.orElse(
          if (statsColumns.nonEmpty && deleteShaped) Some(LakeTable.EmptyStatsLayer)
          else None)
        val newDeltaStats =
          if (asDelta)
            // Append this commit's sidecar (or delete sentinel) per
            // written bucket. When neither exists (nothing statable in a
            // row-carrying batch), the stack goes shorter than `deltas` —
            // the read side treats a misaligned stack as unknown (never
            // prunes).
            prevDeltaStats ++ deltaStatsLayer.toSeq.flatMap(p => written.map(b =>
              b -> (prevDeltaStats.getOrElse(b, Nil) :+ p)))
          else prevDeltaStats -- affected // fold/cow rewrite resets the stacks
        val newBlooms =
          if (asDelta) prev.get.bloomFiles // base blooms describe base files
          else (prev.map(_.bloomFiles).getOrElse(Map.empty) -- affected) ++ sidecars
        val prevDeltaBlooms = prev.map(_.deltaBlooms).getOrElse(Map.empty)
        val newDeltaBlooms =
          if (asDelta)
            prevDeltaBlooms ++ sidecars.map { case (b, p) =>
              b -> (prevDeltaBlooms.getOrElse(b, Nil) :+ p)
            }
          else prevDeltaBlooms -- affected

        // The table schema never carries the delta meta columns. Safe to
        // strip unconditionally: the reserved-name require above rejects
        // any PAYLOAD column with these names on every write path, so the
        // filter only ever removes the op-tag columns a delta commit adds.
        val schemaJson = mergedSchemaJson(prev, StructType(
          merged.schema.fields.filterNot(f => f.name == OpCol || f.name == DvCol)))
        val manifest = Manifest(
          version, commitId, numBuckets, newBuckets, newBlooms, schemaJson,
          newDeltas, newDeltaBlooms, newStats, deltaStats = newDeltaStats,
          renames = newRenames, retired = prevRetired)
        // Last idempotency gate before publish: narrows the duplicate
        // window for two same-commitId deliveries racing to the publish
        // call itself (which is atomic per version).
        if (freshlyCommitted()) {
          io.deleteRecursive(new HPath(outDir))
          return
        }
        try {
          publish(version, manifest)
          committed = true
        } catch {
          case e: IllegalStateException =>
            io.deleteRecursive(new HPath(outDir)) // lost attempt's orphan
            // The concurrent winner may have been a replay of OUR commitId
            // (two deliveries of one batch racing): then we're done.
            if (freshlyCommitted()) committed = true
            else if (attempt >= MaxCommitRetries) throw new IllegalStateException(
              s"commit at $basePath lost the publish race ${attempt + 1} times; giving up", e)
            else attempt += 1
        }
      } finally if (manifestDependent && stabilize) inc.unpersist()
    } finally reused.foreach(_.unpersist(blocking = false))
  }

  /** Remove data version dirs no longer referenced by the latest
    * `keepVersions` manifests (old COW snapshots accumulate otherwise).
    * Keeps any version dir still carrying a live bucket. Manifests whose
    * referenced data dirs are removed are tombstoned into
    * `_commits/_vacuumed.json` (their commitIds stay replay-proof via
    * [[committedIds]]; `snapshotAt` on them fails with a clear
    * "was vacuumed" error instead of a late FileNotFoundException) and
    * deleted. Returns the number of data dirs removed.
    */
  /** Adopt a pre-written initial-load directory as this table's FIRST
    * commit (r21 — the partitioned initial-load fast path): `srcDir`
    * holds `b=<i>` subdirs written by ONE cross-partition Spark job
    * (see PartitionedLakeTable.writePartitions); adoption is a
    * driver-side move + v1 manifest publish, no Spark job. Caller
    * contract: the data carries no meta/reserved columns and the handle
    * has no sidecar features (bloomOnWrite=false, no statsColumns, no
    * zorder, overwrite mode) — the caller gates on those. Returns false
    * when the table turns out non-empty or the v1 publish is lost to a
    * concurrent writer (the moved dir is cleaned up; the caller
    * re-dispatches that partition through the normal commit path, whose
    * idempotency checks then apply).
    */
  private[lake] def adoptInitialLoad(
      srcDir: HPath, schema: StructType, commitId: String): Boolean = synchronized {
    if (latestVersion.nonEmpty) return false // concurrent/prior commit: slow path
    val relDir =
      s"$DataDirName/${"v%08d".format(1L)}-${UUID.randomUUID().toString.take(8)}"
    val dest = io.resolve(relDir)
    io.mkdirs(dest.getParent)
    if (!io.rename(srcDir, dest)) return false
    val written: Set[Int] =
      io.list(dest).collect { case BucketDirRe(b) => b.toInt }.toSet
    // r22 (ADVICE r21): an adopted leaf with NO bucket dirs means the
    // staged write's layout drifted (bucket-dir naming/escape) — treating
    // it as adopted would silently drop the partition's rows with no
    // commit. Clean up and report failure so the caller re-dispatches the
    // partition through the normal commit path.
    if (written.isEmpty) { io.deleteRecursive(dest); return false }
    val manifest = Manifest(
      1L, commitId, numBuckets,
      written.map(b => b -> s"$relDir/$BucketCol=$b").toMap,
      Map.empty, mergedSchemaJson(None, schema))
    try { publish(1L, manifest); true }
    catch {
      case _: IllegalStateException => io.deleteRecursive(dest); false
    }
  }

  def vacuum(keepVersions: Int = 1): Int = synchronized {
    val all = versions()
    // Savepointed versions are pinned whatever the retention policy —
    // their dirs stay referenced and their manifests are never
    // tombstoned until released.
    val keep = (all.takeRight(keepVersions.max(1)) ++
      savepoints.filter(all.contains)).distinct.sorted
    if (keep.isEmpty || !io.exists(dataDir)) return 0
    // A manifest's live dirs = base dirs ∪ delta dirs (docs/MOR_DESIGN.md
    // invariant #4: vacuum must never delete a dir a kept manifest's delta
    // stack still references).
    def liveDirs(m: Manifest): Iterable[String] =
      (m.buckets.values ++ m.deltas.values.flatten).map(_.split("/")(1))
    val referenced: Set[String] =
      keep.flatMap(v => liveDirs(readManifest(v))).toSet // data/<ver>/b=i
    val removable = io.list(dataDir).filterNot(referenced.contains)
    val removedNames = removable.toSet
    // Tombstone every non-kept manifest that references a removed dir.
    val dead = all.filterNot(keep.contains).filter { v =>
      liveDirs(readManifest(v)).exists(removedNames.contains)
    }
    if (dead.nonEmpty) {
      val merged = vacuumedIds ++ dead.map(v => v -> readManifest(v).commitId)
      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      merged.toSeq.sortBy(_._1).foreach { case (v, id) => root.put(v.toString, id) }
      io.replace(vacuumedFile, mapper.writeValueAsString(root))
      dead.foreach(v => io.delete(new HPath(commitsDir, versionFileName(v))))
    }
    removable.foreach(dir => io.deleteRecursive(new HPath(dataDir, dir)))
    removable.size
  }

  /** Time-based retention (Hudi's KEEP_LATEST_BY_HOURS cleaner policy,
    * on the stamped commit times): vacuum everything not referenced by a
    * version committed AFTER `cutoffMillis` — at least the latest version
    * always survives, so the table stays readable whatever the cutoff.
    * Commit times are running-max monotonicized exactly like
    * [[versionAt]], so a backward clock step can only RETAIN more, never
    * delete a version newer (by order) than a kept one.
    */
  def vacuumBefore(cutoffMillis: Long): Int = synchronized {
    var eff = Long.MinValue
    val recent = commitTimes().count { case (_, t) =>
      eff = math.max(eff, t); eff > cutoffMillis
    }
    vacuum(recent.max(1))
  }

  // ---- savepoints (Hudi savepoint shape) ---------------------------------

  private def savepointsFile: HPath = new HPath(commitsDir, "_savepoints.json")

  /** Versions pinned against every vacuum policy, ascending. */
  def savepoints: Seq[Long] =
    if (!io.exists(savepointsFile)) Nil
    else {
      val root = new ObjectMapper().readTree(io.readString(savepointsFile))
      root.elements().asScala.map(_.asLong()).toSeq.sorted
    }

  /** Pin `version` against vacuum until [[releaseSavepoint]] — Hudi's
    * savepoint: retention policies (`vacuum`, `vacuumBefore`) keep the
    * version's manifest and every dir it references, so `snapshotAt` and
    * `restoreTo` stay valid indefinitely. Idempotent; loud on unknown or
    * already-vacuumed versions (a savepoint of destroyed state would be
    * a silent lie).
    */
  def savepoint(version: Long): Unit = synchronized {
    require(!vacuumedIds.contains(version),
      s"version $version at $basePath was vacuumed — cannot savepoint it")
    require(versions().contains(version),
      s"no committed version $version at $basePath")
    writeSavepoints((savepoints :+ version).distinct.sorted)
  }

  /** Drop the pin; the version becomes vacuumable again (it is NOT
    * removed here — the next vacuum's policy decides). Unknown versions
    * no-op, so releases are replay-safe.
    */
  def releaseSavepoint(version: Long): Unit = synchronized {
    writeSavepoints(savepoints.filterNot(_ == version))
  }

  private def writeSavepoints(vs: Seq[Long]): Unit = {
    val mapper = new ObjectMapper()
    val arr = mapper.createArrayNode()
    vs.foreach(arr.add)
    io.replace(savepointsFile, mapper.writeValueAsString(arr))
  }

  private def vacuumedFile: HPath = new HPath(commitsDir, "_vacuumed.json")

  /** Tombstoned versions: version -> commitId of manifests vacuum removed. */
  private def vacuumedIds: Map[Long, String] =
    if (!io.exists(vacuumedFile)) Map.empty
    else {
      val root = new ObjectMapper().readTree(io.readString(vacuumedFile))
        .asInstanceOf[ObjectNode]
      root.fieldNames().asScala.map(k => k.toLong -> root.get(k).asText("")).toMap
    }

  /** Build + write per-bucket bloom sidecar files for the buckets just
    * written; returns bucket -> manifest-relative sidecar path. Each
    * executor writes the filters it aggregated straight to
    * `<bucket dir>/_bloom` through the table's FileSystem — filter bytes
    * never visit the driver (at thousands of buckets x ~MB filters a
    * driver collect would be GBs). The `_` prefix keeps the sidecar
    * invisible to Spark's parquet file listing.
    */
  /** Footer essentials of every file in the just-written bucket dirs,
    * read on a BOUNDED driver pool (r22, VERDICT r21 #4: the r21 serial
    * per-commit footer loop would serialize thousands of object-store
    * round-trips at production bucket counts) — ONE footer read per file
    * serves bloom sizing AND the stats sidecar. `statCols` = physical
    * column names whose statistics to extract (empty for row counts only).
    */
  private def readFooters(
      relDir: String, written: Set[Int],
      statCols: Set[String]): Map[Int, Seq[LakeTable.FileFooter]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val files: Seq[(Int, String)] = written.toSeq.sorted.flatMap { b =>
      val dir = new HPath(s"$basePath/$relDir/$BucketCol=$b")
      io.list(dir).filter(_.endsWith(".parquet")).sorted.map(f => b -> f)
    }
    if (files.isEmpty) return Map.empty
    val poolSize = (spark.sparkContext.defaultParallelism / 4).max(4)
      .min(files.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    try {
      val tasks = files.map { case (b, f) =>
        new java.util.concurrent.Callable[(Int, LakeTable.FileFooter)] {
          def call(): (Int, LakeTable.FileFooter) = b -> LakeTable.readFileFooter(
            new HPath(s"$basePath/$relDir/$BucketCol=$b/$f"), f, statCols, conf)
        }
      }.asJava
      pool.invokeAll(tasks).asScala.map(_.get()).toSeq
        .groupBy(_._1).map { case (b, s) => b -> s.map(_._2) }
    } finally pool.shutdown()
  }

  private def writeBloomSidecars(
      relDir: String, written: Set[Int],
      footers: Map[Int, Seq[LakeTable.FileFooter]]): Map[Int, String] = {
    if (written.isEmpty) return Map.empty
    val paths = written.toSeq.sorted.map(b => s"$basePath/$relDir/$BucketCol=$b")
    val keys = spark.read.parquet(paths: _*).select(col(KeyCol))
    // Size for the biggest bucket (hash buckets are near-uniform). r21:
    // the row counts come from the just-written parquet FOOTERS — exact,
    // driver-side, zero Spark jobs — where the old groupBy().count() agg
    // planned an exchange and cost 2-3 AQE stage jobs per bloom commit.
    // A bucket dir's rows all hash to that bucket by construction, so
    // the per-dir footer sum IS the old per-bucket count. r22: footers
    // arrive pre-read (one bounded-pool pass shared with the stats
    // sidecar).
    val maxN =
      written.toSeq.map(b => footers.getOrElse(b, Nil).map(_.rows).sum)
        .max.max(1L)
    // Untyped udaf over a codegen'd int-bucket groupBy: the earlier typed
    // groupByKey(row => ...) path deserialized every row through closures —
    // measurably CPU-heavy at bench scale for zero benefit.
    import org.apache.spark.sql.Encoders
    val bloomUdaf = udaf(new BloomAggregator(maxN, 0.01), Encoders.STRING)
    // Locals only in the closure (LakeTable itself is not serializable).
    val sconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val base = basePath
    val bucketCol = BucketCol
    val fileName = BloomFileName
    withJobDesc("bloom-build")(keys
      .groupBy(bucketOf(col(KeyCol)).as(BucketCol))
      .agg(bloomUdaf(col(KeyCol)).as("bloom"))
      .foreachPartition { (it: Iterator[Row]) =>
        it.foreach { r =>
          // Write-temp-then-rename: a raw create(overwrite) would let a
          // speculative/zombie task attempt TRUNCATE a sidecar mid-read
          // after the manifest was published; the rename makes each
          // publish atomic. The correctness invariant is that every
          // attempt of a partition produces byte-identical bloom bytes
          // (deterministic sizing + commutative bit-OR merge), so it does
          // not matter which attempt's file survives — note local POSIX
          // rename REPLACES an existing target while HDFS rename fails on
          // one; both outcomes are fine under that invariant.
          val target = new HPath(s"$base/$relDir/$bucketCol=${r.getInt(0)}/$fileName")
          val fs = target.getFileSystem(sconf.value)
          val tmp = new HPath(
            target.getParent, s".tmp-bloom-${java.util.UUID.randomUUID()}")
          val out = fs.create(tmp, false)
          try out.write(r.getAs[Array[Byte]](1))
          finally out.close()
          val renamed = fs.rename(tmp, target)
          if (!renamed) {
            fs.delete(tmp, false)
            if (!fs.exists(target))
              throw new java.io.IOException(s"failed to publish bloom sidecar $target")
          }
        }
      })
    written.map(b => b -> s"$relDir/$BucketCol=$b/$BloomFileName").toMap
  }

  // ---- manifest-level column min/max stats (Hudi col_stats shape) --------
  //
  // Opt-in via `statsColumns`: each non-delta commit records per-bucket
  // min/max for the named columns in ONE `_stats.json` beside the commit's
  // data (per-commit file, not inline manifest payload — the bloom lesson:
  // the manifest stays KB-sized at any bucket count; the manifest maps
  // bucket -> stats path like `bloomFiles`). Readers prune buckets whose
  // recorded range provably excludes a pushed predicate BEFORE any file
  // listing or open — at 100 TB a range predicate then skips whole
  // task-sized file groups, where parquet footer stats alone still open
  // every file.
  //
  // Honest scale caveat: buckets are KEY-HASH file groups, so a payload
  // column prunes only where its values correlate with buckets — true for
  // partition-local recency (`_ts` on append-mostly partitioned tables:
  // stats compose with partition-dir pruning, each partition keeps its own
  // manifests) and for engineered key layouts, NOT for a uniformly
  // distributed column (every bucket spans the full range; stats then
  // prune nothing and cost one narrow agg per commit). Buckets carrying a
  // delta stack are never pruned (base stats can't speak for deltas).

  /** Orderable scalar types recorded/compared; everything else is skipped
    * (absent stats never prune — conservative).
    */
  private def statable(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.NumericType => true // incl. DecimalType
    case org.apache.spark.sql.types.StringType => true
    // r15 (VERDICT r14 #4): genuine temporal payload columns — a real CDC
    // table's created_at/updated_at — record integer bounds (epoch micros
    // / epoch days, see statNorm) like Hudi col_stats. TimestampNTZ stays
    // un-statable: normalizing it needs a session zone, and a sidecar
    // written under one zone would mis-prune readers under another.
    case org.apache.spark.sql.types.TimestampType => true
    case org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** Stat-input normalization: temporal columns record INTEGER bounds —
    * timestamp as epoch micros (`unix_micros`, instant-exact, zone-free)
    * and date as epoch days (`unix_date`) — so the sidecar JSON stays
    * scalar and comparisons stay exact integer arithmetic. The prune side
    * ([[excludes]]' cmp) converts pushed Timestamp/Instant/Date/LocalDate
    * literals through the SAME encoding; change one side only and ranges
    * silently stop matching, so keep them paired.
    */
  private def statNorm(
      qc: org.apache.spark.sql.Column,
      dt: DataType): org.apache.spark.sql.Column = dt match {
    case org.apache.spark.sql.types.TimestampType => unix_micros(qc)
    case org.apache.spark.sql.types.DateType => unix_date(qc)
    case _ => qc
  }

  /** Distributed min/max + null counts over the buckets just written
    * (Hudi col_stats records null counts too — they buy IsNull/IsNotNull
    * pruning and disambiguate "all null" from "not statable"); tiny
    * scalar collect; one JSON sidecar per commit. Returns the
    * manifest-relative path, or None when nothing statable.
    *
    * r14: stats are computed per FILE (grouped on `input_file_name`, the
    * Hudi metadata-table col_stats granularity) and rolled up to the
    * bucket locally from the collected per-file rows — still ONE
    * distributed pass over the just-written data. With `zorderBy` +
    * `filesPerBucket > 1` the files inside a bucket tile the Z-curve
    * (range-partitioned write), so per-file ranges on clustered columns
    * are near-disjoint and a range predicate skips FILES inside
    * surviving buckets before any footer read — the pruning lane bucket
    * hashing can't give (a uniform payload column spans every bucket).
    * The file map is commit-atomic and complete: it is derived from
    * exactly the files this commit published, in the same job that
    * publishes their manifest.
    */
  private def writeStatsSidecar(
      relDir: String, written: Set[Int],
      renames: Map[String, String],
      writtenSchema: StructType,
      footers: Map[Int, Seq[LakeTable.FileFooter]]): Option[String] = {
    if (written.isEmpty) return None
    // The just-written files carry PHYSICAL names (r20): translate the
    // handle's logical statsColumns and record the sidecar keys PHYSICAL
    // too — physical names are stable across renames, so recorded stats
    // keep pruning after a rename (readers remap via logicalStats).
    // Eligibility comes from the WRITTEN schema — identical to what
    // spark.read would infer back from the same files.
    val eligible = statsColumns.map(c => renames.getOrElse(c, c)).filter(c =>
      writtenSchema.fields.exists(f => f.name == c && statable(f.dataType)))
    if (eligible.isEmpty) return None
    // Normalized per-node stats: (rows, per-eligible-column (min, max,
    // nulls)) — produced by either source below, serialized identically.
    type NodeData = (Long, Seq[(Option[Any], Option[Any], Long)])
    // r22 footer fast path (guide §6 — the r21 bloom-sizing mechanism
    // extended to column stats): per-file bounds come straight from the
    // parquet FOOTERS already read for this commit — exact, ZERO Spark
    // jobs — whenever every eligible column's footer statistics are
    // usable in every file (see ColFooter). INT96 timestamps, FLBA-backed
    // decimals, or dropped/truncated binary bounds fall back to the
    // distributed agg below, which records the identical JSON.
    // `-Dgraft.lake.stats.noFooter=true` forces the agg fallback — the
    // equivalence spec pins footer-vs-agg JSON equality through it, and
    // it doubles as an emergency escape hatch.
    val footerOk = !sys.props.get("graft.lake.stats.noFooter").exists(_.toBoolean) &&
      footers.nonEmpty && written.forall(b =>
        footers.get(b).exists(fs => fs.nonEmpty && fs.forall(ff =>
          eligible.forall(c => ff.cols.get(c).exists(_.usable)))))
    val perBucket: Seq[(Int, NodeData, Seq[(String, NodeData)])] =
      if (footerOk) {
        written.toSeq.sorted.map { b =>
          val fs = footers(b).sortBy(_.name)
          // File-level bounds FIRST — the bucket rollup below merges (and
          // mutates) the same statistics objects.
          val fileNodes: Seq[(String, NodeData)] = fs.map { ff =>
            val cols = eligible.map { c =>
              val cf = ff.cols(c)
              val (mn, mx) =
                if (cf.stats.hasNonNullValue)
                  (Option(LakeTable.footerBound(cf.stats.genericGetMin, cf.primitive)),
                    Option(LakeTable.footerBound(cf.stats.genericGetMax, cf.primitive)))
                else (None, None)
              (mn, mx, cf.stats.getNumNulls)
            }
            ff.name -> ((ff.rows, cols))
          }
          // Bucket rollup via parquet's OWN typed comparators (exactly
          // the orderings the bounds were recorded under — unsigned UTF-8
          // bytes for strings, Float/Double.compare for the NaN lanes —
          // the same orders Spark's min/max aggregates use). The footers
          // map is per-commit scratch, so mutating the first file's
          // statistics as the accumulator is safe.
          val bucketCols = eligible.map { c =>
            val acc = fs.head.cols(c)
            fs.tail.foreach(f => LakeTable.mergeStatsUnsafe(acc.stats, f.cols(c).stats))
            val (mn, mx) =
              if (acc.stats.hasNonNullValue)
                (Option(LakeTable.footerBound(acc.stats.genericGetMin, acc.primitive)),
                  Option(LakeTable.footerBound(acc.stats.genericGetMax, acc.primitive)))
              else (None, None)
            (mn, mx, acc.stats.getNumNulls) // merge accumulated the null counts
          }
          (b, (fs.map(_.rows).sum, bucketCols), fileNodes)
        }
      } else {
        val paths = written.toSeq.sorted.map(b => s"$basePath/$relDir/$BucketCol=$b")
        val df = spark.read.parquet(paths: _*)
        val aggs = eligible.flatMap { c =>
          val dt = df.schema.fields.find(_.name == c).get.dataType
          val qc = statNorm(col("`" + c + "`"), dt)
          Seq(min(qc).as(s"min:$c"), max(qc).as(s"max:$c"),
            sum(when(qc.isNull, 1L).otherwise(0L)).as(s"nulls:$c"))
        } :+ count(lit(1)).as("rows")
        val perFileDf = df.groupBy(
            bucketOf(col(KeyCol)).as(BucketCol),
            element_at(split(input_file_name(), "/"), -1).as("_file"))
          .agg(aggs.head, aggs.drop(1): _*)
        val fileRows = withJobDesc("stats")(perFileDf.collect())
        // Bucket rollup over the collected per-file frame: a LOCAL tiny
        // job (files x columns scalars), so the data is scanned once while
        // the rollup still uses Spark's own orderings (UTF-8 string
        // min/max — never reimplemented driver-side).
        import scala.jdk.CollectionConverters._
        val local = spark.createDataFrame(fileRows.toSeq.asJava, perFileDf.schema)
        val rollups = eligible.flatMap { c =>
          Seq(min(col(s"`min:$c`")).as(s"min:$c"), max(col(s"`max:$c`")).as(s"max:$c"),
            sum(col(s"`nulls:$c`")).cast("long").as(s"nulls:$c"))
        } :+ sum(col("rows")).cast("long").as("rows")
        val rows = local.groupBy(col(BucketCol))
          .agg(rollups.head, rollups.drop(1): _*).collect()
        // Row layout: [..prefix.., (min,max,nulls) x eligible, rows]
        def nodeOf(r: Row, off: Int): NodeData = (
          r.getLong(off + eligible.size * 3),
          eligible.indices.map(i => (
            Option(r.get(off + i * 3)), Option(r.get(off + 1 + i * 3)),
            r.getLong(off + 2 + i * 3))))
        val filesByBucket = fileRows.groupBy(_.getInt(0))
        rows.sortBy(_.getInt(0)).toSeq.map { r =>
          val b = r.getInt(0)
          (b, nodeOf(r, 1),
            filesByBucket.getOrElse(b, Array.empty[Row]).sortBy(_.getString(1))
              .toSeq.map(fr => fr.getString(1) -> nodeOf(fr, 2)))
        }
      }
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val bucketsNode = root.putObject("buckets")
    def put(node: ObjectNode, field: String, v: Any): Unit = v match {
      case s: String => node.put(field, s)
      case d: java.lang.Double => node.put(field, d.doubleValue())
      case f: java.lang.Float => node.put(field, f.doubleValue()) // exact widen
      case dec: java.math.BigDecimal => node.put(field, dec)
      case n: java.lang.Number => node.put(field, n.longValue())
      case other => node.put(field, other.toString)
    }
    // A non-finite double bound is not JSON-orderable: drop that column's
    // bounds for the bucket (conservative) rather than serialize NaN.
    def enc(v: Any): Option[Any] = v match {
      case null => None
      case d: java.lang.Double if !java.lang.Double.isFinite(d) => None
      case f: java.lang.Float if !java.lang.Float.isFinite(f) => None
      case other => Some(other)
    }
    def emit(node: ObjectNode, d: NodeData): Unit = {
      node.put("rows", d._1)
      val colsNode = node.putObject("cols")
      eligible.zipWithIndex.foreach { case (c, i) =>
        val (mn0, mx0, nulls) = d._2(i)
        val cNode = colsNode.putObject(c)
        cNode.put("nulls", nulls)
        (mn0.flatMap(enc), mx0.flatMap(enc)) match {
          case (Some(mn), Some(mx)) =>
            put(cNode, "min", mn)
            put(cNode, "max", mx)
          case _ => () // all-null (or NaN-bounded) column: null count only
        }
      }
    }
    perBucket.foreach { case (b, bData, files) =>
      val bNode = bucketsNode.putObject(b.toString)
      emit(bNode, bData)
      val filesNode = bNode.putObject("files")
      files.foreach { case (fname, fd) => emit(filesNode.putObject(fname), fd) }
    }
    val rel = s"$relDir/$StatsFileName"
    io.replace(io.resolve(rel), mapper.writeValueAsString(root))
    Some(rel)
  }

  /** path -> bucket -> parsed stats. Sidecars are immutable once
    * published — cached per handle like commit times. A missing/corrupt
    * sidecar reads as empty (no prune, never a failure).
    */
  private val statsCache = new java.util.concurrent.ConcurrentHashMap[
    String, Map[Int, LakeTable.BucketStats]]()

  private def loadStats(path: String): Map[Int, LakeTable.BucketStats] =
    statsCache.computeIfAbsent(path, { p =>
      // NonFatal, not just IOException: the contract is missing/corrupt/
      // alien-shaped sidecar = NO PRUNE, never a failed scan — a
      // non-integer bucket key or a column node without bounds must
      // degrade the same way a missing file does.
      try {
        val root = new ObjectMapper().readTree(io.readString(io.resolve(p)))
        val bNode = root.get("buckets")
        // current shape: {"rows": N, "cols": {col: {min, max, nulls}},
        // "files": {name: {rows, cols}}}; the early-r13 shape
        // ({col: {min, max}} directly) still loads (bounds only, no null
        // counts, no files), as does r13's cols-without-files.
        def opt(n: JsonNode): Option[JsonNode] =
          Option(n).filterNot(_.isNull)
        def parseOne(node: ObjectNode, withFiles: Boolean): LakeTable.BucketStats = {
          val colsNode = Option(node.get("cols"))
            .filter(_.isObject).map(_.asInstanceOf[ObjectNode]).getOrElse(node)
          val rows = Option(node.get("rows")).filter(_.isNumber).map(_.asLong())
          val cols = colsNode.fieldNames().asScala.filter(colsNode.get(_).isObject).map { c =>
            val cNode = colsNode.get(c)
            c -> LakeTable.ColStat(
              opt(cNode.get("min")), opt(cNode.get("max")),
              Option(cNode.get("nulls")).filter(_.isNumber).map(_.asLong()))
          }.toMap
          val files =
            if (!withFiles) Map.empty[String, LakeTable.BucketStats]
            else Option(node.get("files")).filter(_.isObject)
              .map(_.asInstanceOf[ObjectNode]).map { fn =>
                fn.fieldNames().asScala.filter(fn.get(_).isObject).map { f =>
                  f -> parseOne(fn.get(f).asInstanceOf[ObjectNode], withFiles = false)
                }.toMap
              }.getOrElse(Map.empty)
          LakeTable.BucketStats(rows, cols, files)
        }
        if (bNode == null || !bNode.isObject) Map.empty
        else bNode.asInstanceOf[ObjectNode].fieldNames().asScala.map { b =>
          b.toInt -> parseOne(bNode.get(b).asInstanceOf[ObjectNode], withFiles = true)
        }.toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    })

  /** Sidecar stats are keyed by PHYSICAL column names (stable across
    * renames, r20); pruning filters reference LOGICAL names — remap the
    * keys through the manifest's mapping and DROP retired physical names
    * entirely (their bounds describe a dropped column's data; a re-added
    * same-named logical column reads NULL from those files, so matching
    * the stale stats could e.g. wrongly exclude an `IS NULL` bucket).
    */
  private def logicalStats(
      m: Manifest, st: LakeTable.BucketStats): LakeTable.BucketStats = {
    if (m.renames.isEmpty && m.retired.isEmpty) return st
    val inv = m.renames.map(_.swap)
    val dead = m.retired.toSet
    def remap(s: LakeTable.BucketStats): LakeTable.BucketStats = s.copy(
      cols = s.cols.collect {
        case (k, v) if !dead.contains(k) => inv.getOrElse(k, k) -> v
      },
      files = s.files.map { case (f, fs) => f -> remap(fs) })
    remap(st)
  }

  /** Buckets of `m` a conjunction of pushed filters can still touch, per
    * recorded column stats. Conservative: a bucket survives unless some
    * filter PROVABLY excludes its whole range; buckets with delta stacks,
    * without stats, or with un-comparable literal/stat type pairs always
    * survive.
    */
  private[lake] def statsPrunedBuckets(
      m: Manifest, filters: Seq[SFilter]): Set[Int] = {
    if ((m.statsFiles.isEmpty && m.deltaStats.isEmpty) || filters.isEmpty)
      return m.allBuckets
    m.allBuckets.filter { b =>
      val deltas = m.deltas.getOrElse(b, Nil)
      if (deltas.isEmpty)
        !m.statsFiles.contains(b) || {
          val st = logicalStats(m, loadStats(m.statsFiles(b))
            .getOrElse(b, LakeTable.BucketStats(None, Map.empty)))
          !filters.exists(f => excludes(f, st))
        }
      else {
        // Delta-carrying bucket (r15): prunable iff EVERY layer has a
        // stats sidecar — the base (when a base dir exists) plus one per
        // stacked delta ([[Manifest.deltaStats]] aligned with `deltas`).
        // Any unknown layer could hold a matching row, so a misaligned
        // stack (pre-r15/r16 deltas, un-statable row-carrying batch)
        // never prunes. Pure-DELETE layers are recorded as
        // [[LakeTable.EmptyStatsLayer]] sentinels (r16): they keep the
        // stack aligned but are SKIPPED from the union — a delete can
        // only remove rows, so it adds nothing to any range. The union
        // over-covers rows tombstones have since deleted — conservative
        // by construction.
        val dstats = m.deltaStats.getOrElse(b, Nil)
        val baseKnown = !m.buckets.contains(b) || m.statsFiles.contains(b)
        dstats.size != deltas.size || !baseKnown || {
          val layers =
            (m.statsFiles.get(b).toSeq ++
              dstats.filterNot(_ == LakeTable.EmptyStatsLayer)).map(p =>
              logicalStats(m,
                loadStats(p).getOrElse(b, LakeTable.BucketStats(None, Map.empty))))
          val st = LakeTable.unionStats(layers)
          !filters.exists(f => excludes(f, st))
        }
      }
    }
  }

  /** True iff `f` is UNSATISFIABLE on a bucket whose columns span the
    * recorded ranges (min/max ignore nulls: a range never proves a null
    * row absent — null-matching predicates prune only through the
    * recorded null counts).
    */
  private def excludes(f: SFilter, st: LakeTable.BucketStats): Boolean = {
    import org.apache.spark.sql.sources._
    def cmp(node: JsonNode, v: Any): Option[Int] = v match {
      case _ if node == null || node.isNull => None
      // A Float literal must compare through its EXACT double widening —
      // the write side stores f.doubleValue() (0.1f -> 0.10000000149011612)
      // and Float.toString would yield "0.1", judging a bucket whose bound
      // EQUALS the literal strictly outside (wrong prune). valueOf(double)
      // goes through Double.toString, the same decimal Jackson wrote.
      case fl: java.lang.Float if node.isNumber =>
        if (!java.lang.Float.isFinite(fl)) None
        else Some(node.decimalValue().compareTo(
          java.math.BigDecimal.valueOf(fl.doubleValue())))
      case n: java.lang.Number if node.isNumber =>
        try Some(node.decimalValue().compareTo(new java.math.BigDecimal(n.toString)))
        catch { case _: NumberFormatException => None } // NaN/Infinity literal
      // Temporal literals compare through the statNorm encodings (epoch
      // micros / epoch days) — both external-type families Spark pushes
      // (java.sql.* default, java.time.* under datetime.java8API.enabled).
      case t: java.sql.Timestamp if node.isNumber =>
        Some(node.decimalValue().compareTo(java.math.BigDecimal.valueOf(
          Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L),
            1000000L), t.getNanos.toLong / 1000L))))
      case i: java.time.Instant if node.isNumber =>
        Some(node.decimalValue().compareTo(java.math.BigDecimal.valueOf(
          Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L),
            i.getNano.toLong / 1000L))))
      case d: java.sql.Date if node.isNumber =>
        Some(node.decimalValue().compareTo(
          java.math.BigDecimal.valueOf(d.toLocalDate.toEpochDay)))
      case d: java.time.LocalDate if node.isNumber =>
        Some(node.decimalValue().compareTo(
          java.math.BigDecimal.valueOf(d.toEpochDay)))
      case s: String if node.isTextual =>
        // Spark orders strings by UTF-8 BYTES (UTF8String.compareTo) —
        // Java String.compareTo is UTF-16 code units, which disagrees for
        // supplementary-plane characters (an emoji sorts above U+FFFF in
        // UTF-8, below it in UTF-16). Comparing with the writer's own
        // collation would wrongly prune buckets holding matching rows.
        Some(java.util.Arrays.compareUnsigned(
          node.asText().getBytes(java.nio.charset.StandardCharsets.UTF_8),
          s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      case _ => None
    }
    def mn(a: String): Option[JsonNode] = st.cols.get(a).flatMap(_.mn)
    def mx(a: String): Option[JsonNode] = st.cols.get(a).flatMap(_.mx)
    def nulls(a: String): Option[Long] = st.cols.get(a).flatMap(_.nulls)
    // a non-null-matching predicate is unsatisfiable when every row of
    // the bucket is null in that column (bounds are absent then, so the
    // range tests alone can't see it)
    def allNull(a: String): Boolean =
      (for { n <- nulls(a); r <- st.rows } yield n == r).getOrElse(false)
    def outside(a: String, v: Any): Boolean =
      mn(a).flatMap(cmp(_, v)).exists(_ > 0) || mx(a).flatMap(cmp(_, v)).exists(_ < 0)
    f match {
      case GreaterThan(a, v)        => allNull(a) || mx(a).flatMap(cmp(_, v)).exists(_ <= 0)
      case GreaterThanOrEqual(a, v) => allNull(a) || mx(a).flatMap(cmp(_, v)).exists(_ < 0)
      case LessThan(a, v)           => allNull(a) || mn(a).flatMap(cmp(_, v)).exists(_ >= 0)
      case LessThanOrEqual(a, v)    => allNull(a) || mn(a).flatMap(cmp(_, v)).exists(_ > 0)
      case EqualTo(a, v) if v != null => allNull(a) || outside(a, v)
      // null-safe equality (r16): v != null behaves exactly like EqualTo
      // (a null row can't <=> a non-null literal); v == null is IsNull.
      case EqualNullSafe(a, v) =>
        if (v == null) nulls(a).contains(0L) else allNull(a) || outside(a, v)
      // a != v keeps only rows PROVABLY different from v — null rows
      // evaluate to unknown and are filtered post-scan, so an all-null
      // bucket is excluded; so is a constant bucket whose entire range IS
      // v (min == v == max: every non-null row equals v) (r16).
      case Not(EqualTo(a, v)) if v != null =>
        allNull(a) ||
          (mn(a).flatMap(cmp(_, v)).exists(_ == 0) &&
            mx(a).flatMap(cmp(_, v)).exists(_ == 0))
      // any string with prefix v is >= v in byte order, so max < v
      // excludes; and it is < ub(v) — v's UTF-8 bytes with the 0xFF tail
      // dropped and the last remaining byte incremented — so min >= ub(v)
      // excludes too (r16; no ub when v is all 0xFF bytes). Both sides
      // compare raw UTF-8 bytes, the same order the sidecar's string
      // bounds were reduced under.
      case StringStartsWith(a, v) if v != null =>
        allNull(a) || mx(a).flatMap(cmp(_, v)).exists(_ < 0) || {
          val bs = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = bs.length - 1
          while (i >= 0 && bs(i) == 0xFF.toByte) i -= 1
          i >= 0 && {
            val ub = java.util.Arrays.copyOf(bs, i + 1)
            ub(i) = (ub(i) + 1).toByte
            mn(a).exists(n => n.isTextual && java.util.Arrays.compareUnsigned(
              n.asText().getBytes(java.nio.charset.StandardCharsets.UTF_8), ub) >= 0)
          }
        }
      case In(a, vs) =>
        vs != null && vs.nonEmpty && !vs.contains(null) &&
          (allNull(a) || vs.forall(outside(a, _)))
      case IsNull(a)    => nulls(a).contains(0L)
      case IsNotNull(a) => allNull(a)
      case And(l, r) => excludes(l, st) || excludes(r, st)
      case Or(l, r)  => excludes(l, st) && excludes(r, st)
      case _ => false
    }
  }

  /** For surviving non-delta buckets whose sidecar carries per-file
    * stats: the file subsets the filters can still touch. Only buckets
    * where at least one file is provably excluded appear in the result
    * (absent = read the whole bucket dir, the conservative default —
    * also what pre-r14 sidecars and delta-carrying buckets get). An
    * empty surviving list is VALID: the bucket's rolled-up range can
    * straddle a filter that individually excludes every file (a value
    * in a gap between file ranges) — the bucket then contributes no
    * scan paths at all.
    */
  private[lake] def statsPrunedFiles(
      m: Manifest, keep: Set[Int], filters: Seq[SFilter]): Map[Int, Seq[String]] = {
    if (m.statsFiles.isEmpty || filters.isEmpty) return Map.empty
    keep.iterator.flatMap { b =>
      if (m.deltas.getOrElse(b, Nil).nonEmpty) None
      else m.statsFiles.get(b).flatMap { p =>
        val st = logicalStats(m,
          loadStats(p).getOrElse(b, LakeTable.BucketStats(None, Map.empty)))
        if (st.files.isEmpty) None
        else {
          val kept = st.files.collect {
            case (f, fst) if !filters.exists(excludes(_, fst)) => f
          }.toSeq.sorted
          if (kept.size == st.files.size) None else Some(b -> kept)
        }
      }
    }.toMap
  }

  /** Stats-pruned snapshot at `version` for pushed filters: Some(df)
    * reading ONLY surviving buckets — and, inside surviving buckets
    * whose sidecar records per-file stats, only surviving FILES (zero
    * listings/opens for skipped ones; the file names come from the
    * commit-atomic sidecar, so no directory listing either). None when
    * stats cannot prune anything (callers keep their cached
    * full-snapshot plan).
    */
  private[graft] def statsPrune(
      version: Long, filters: Seq[SFilter]): Option[DataFrame] = {
    val m = readManifest(version)
    // deltaStats alone can prune too (r15): an all-delta MOR table — no
    // base commit yet, statsFiles empty — still has per-delta sidecars.
    if ((m.statsFiles.isEmpty && m.deltaStats.isEmpty) || filters.isEmpty) return None
    val keep = statsPrunedBuckets(m, filters)
    val fileKeep = statsPrunedFiles(m, keep, filters)
    if (keep.size == m.allBuckets.size && fileKeep.isEmpty) None
    else Some(readBuckets(m, keep, pruneFiles = fileKeep))
  }

  /** Next manifest schema: existing columns keep their slot but WIDEN when
    * the incoming batch carries a wider numeric type (int→long,
    * float→double — the widenings CDC sources actually perform); new
    * columns append. An incompatible type change fails the commit loudly
    * instead of poisoning the table's read path.
    */
  private def mergedSchemaJson(prev: Option[Manifest], now: StructType): String =
    prev match {
      case None => now.json
      case Some(m) =>
        val old = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
        val widened = StructType(old.fields.map { f =>
          now.fields.find(_.name == f.name) match {
            // .sql comparison ignores nullability-only differences (those
            // keep the old field; parquet reads absent values as null).
            case Some(nf) if nf.dataType.sql != f.dataType.sql =>
              f.copy(dataType = widen(f.dataType, nf.dataType).getOrElse(
                throw new IllegalArgumentException(
                  s"incompatible schema change for column '${f.name}' at $basePath: " +
                    s"${f.dataType.simpleString} -> ${nf.dataType.simpleString}")))
            case _ => f
          }
        })
        val extra = now.fields.filterNot(f => old.fieldNames.contains(f.name))
        extra.foldLeft(widened)((s, f) => s.add(f)).json
    }

  private def publish(version: Long, manifest: Manifest): Unit =
    // Atomic create-if-absent (hard link locally, no-overwrite rename on
    // HDFS): fails if the version already exists — a concurrent writer
    // won the race and the caller should retry the merge. Every published
    // manifest is stamped with the wall-clock commit time here (the one
    // choke point) — the basis for timestampAsOf resolution; restores get
    // the time they were PUBLISHED, not the restored version's.
    io.publishIfAbsent(
      new HPath(commitsDir, versionFileName(version)),
      manifest.copy(commitTimeMs = System.currentTimeMillis()).toJson)
}

object LakeTable {

  /** Distinct values of a single non-null int bucket column, collected in
    * ONE exchange-free job (r21): each task folds its rows into a BitSet
    * (≤ numBuckets bits), the driver ORs them. `distinct().collect()`
    * planned an exchange, so AQE materialized 2-3 stage jobs per commit
    * for a handful of ints — pure per-commit latency on lifecycle-heavy
    * tables.
    */
  private[lake] def collectBuckets(df: DataFrame, numBuckets: Int): Set[Int] = {
    val arrs = df.queryExecution.toRdd.mapPartitions { it =>
      val seen = new java.util.BitSet(numBuckets)
      while (it.hasNext) seen.set(it.next().getInt(0))
      Iterator.single(seen.toLongArray)
    }.collect()
    val acc = new java.util.BitSet(numBuckets)
    arrs.foreach(a => acc.or(java.util.BitSet.valueOf(a)))
    val out = Set.newBuilder[Int]
    var i = acc.nextSetBit(0)
    while (i >= 0) { out += i; i = acc.nextSetBit(i + 1) }
    out.result()
  }
  private[lake] def containsMap(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** One column's footer statistics, merged across a file's row groups
    * with parquet's OWN typed comparator (exactly the ordering the writer
    * recorded them under — for strings that is unsigned UTF-8 byte order,
    * the same order Spark's min/max aggregate uses). `usable` = every row
    * group recorded a null count and either real bounds or a provably
    * all-null chunk, and the (primitive, logical) type pair maps exactly
    * onto the value the stats-sidecar agg would have produced.
    */
  private[lake] final case class ColFooter(
      stats: org.apache.parquet.column.statistics.Statistics[_],
      primitive: org.apache.parquet.schema.PrimitiveType,
      usable: Boolean)

  /** A just-written parquet file's footer essentials — row count plus the
    * requested columns' [[ColFooter]]s. Read ONCE per file per commit and
    * shared by bloom sizing and the stats sidecar (r22).
    */
  private[lake] final case class FileFooter(
      name: String, rows: Long, cols: Map[String, ColFooter])

  /** True iff the (primitive, logical) parquet type of `pt` converts
    * EXACTLY to the value the stats-sidecar agg records for the matching
    * Spark type ([[footerBound]] below): the statNorm encodings line up
    * by construction (DATE stats are epoch days = `unix_date`;
    * TIMESTAMP(MICROS, adjustedToUTC) stats are epoch micros =
    * `unix_micros`). INT96 timestamps, FIXED_LEN_BYTE_ARRAY decimals,
    * booleans and anything exotic are NOT convertible — the caller falls
    * back to the agg job, never guesses.
    */
  private[lake] def footerConvertible(
      pt: org.apache.parquet.schema.PrimitiveType): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.LogicalTypeAnnotation._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 => ann match {
        case null => true
        case _: IntLogicalTypeAnnotation => true
        case _: DateLogicalTypeAnnotation => true
        case _: DecimalLogicalTypeAnnotation => true
        case _ => false
      }
      case INT64 => ann match {
        case null => true
        case _: IntLogicalTypeAnnotation => true
        case _: DecimalLogicalTypeAnnotation => true
        case t: TimestampLogicalTypeAnnotation =>
          t.isAdjustedToUTC &&
            t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }
      case FLOAT | DOUBLE => true
      case BINARY =>
        ann.isInstanceOf[StringLogicalTypeAnnotation]
      case _ => false
    }
  }

  /** A merged footer statistic's min or max as EXACTLY the Java value the
    * stats-sidecar agg would collect for the matching Spark column (the
    * JSON `put` then renders both identically): Integer/Long for the int
    * and temporal lanes, Float/Double (the caller's non-finite gate drops
    * NaN bounds on both paths — parquet's Float/Double comparators are
    * `Float.compare`/`Double.compare`, so a NaN-containing chunk records
    * max = NaN exactly like Spark's NaN-greatest ordering), UTF-8 String,
    * scaled BigDecimal for int-backed decimals. Only called for
    * [[footerConvertible]] types.
    */
  private[lake] def footerBound(
      v: Any, pt: org.apache.parquet.schema.PrimitiveType): Any = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation
    (pt.getLogicalTypeAnnotation, v) match {
      case (d: DecimalLogicalTypeAnnotation, n: java.lang.Number) =>
        java.math.BigDecimal.valueOf(n.longValue(), d.getScale)
      case (_, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
      case (_, other) => other
    }
  }

  /** Merge parquet statistics across row groups. The static type
    * parameter is erased at runtime and `mergeStatistics` dispatches on
    * the runtime class (same column of the same file — always
    * compatible); the cast only satisfies the Scala compiler.
    */
  private def mergeStatsUnsafe(a: AnyRef, b: AnyRef): Unit =
    a.asInstanceOf[org.apache.parquet.column.statistics.Statistics[java.lang.Long]]
      .mergeStatistics(
        b.asInstanceOf[org.apache.parquet.column.statistics.Statistics[java.lang.Long]])

  /** Read one file's footer essentials. `statCols` names the (physical)
    * columns whose statistics the caller wants extracted; pass empty for
    * row counts only (bloom sizing).
    */
  private[lake] def readFileFooter(
      path: HPath, name: String, statCols: Set[String],
      conf: org.apache.hadoop.conf.Configuration): FileFooter = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val cols =
        if (statCols.isEmpty) Map.empty[String, ColFooter]
        else {
          // (merged stats, all row groups usable) per column
          val acc = new java.util.HashMap[
            String,
            (org.apache.parquet.column.statistics.Statistics[_],
              org.apache.parquet.schema.PrimitiveType, Boolean)]()
          blocks.foreach(_.getColumns.asScala.foreach { cc =>
            if (cc.getPath.size == 1 && statCols.contains(cc.getPath.toDotString)) {
              val cname = cc.getPath.toDotString
              val st = cc.getStatistics
              val pt = cc.getPrimitiveType
              val prev = acc.get(cname)
              val ok = st != null && st.isNumNullsSet &&
                (st.hasNonNullValue || st.getNumNulls == cc.getValueCount)
              val merged =
                if (prev == null || prev._1 == null) st
                else { if (ok) mergeStatsUnsafe(prev._1, st); prev._1 }
              acc.put(cname, (merged, pt, (prev == null || prev._3) && ok))
            }
          })
          val b = Map.newBuilder[String, ColFooter]
          acc.forEach { (cname, t) =>
            b += cname -> ColFooter(
              t._1, t._2, t._3 && t._1 != null && footerConvertible(t._2))
          }
          b.result()
        }
      FileFooter(name, rows, cols)
    } finally r.close()
  }

  val KeyCol = "_key"
  val TsCol = "_ts"
  val SeqCol = "_seq"
  val BucketCol = "b"
  val BloomFileName = "_bloom"
  val StatsFileName = "_stats.json"
  /** Sentinel recorded in [[Manifest.deltaStats]] for a PURE-DELETE delta
    * commit (r16, VERDICT r15 #3): the batch carries no payload columns,
    * so there is no sidecar to write — but deletes only REMOVE rows, so
    * the layer provably contributes nothing to the bucket's value ranges.
    * Recording the sentinel keeps the stack aligned with `deltas` (the
    * every-layer-known prune precondition) instead of going stats-dark on
    * delete-heavy MOR workloads; the read side skips sentinel layers when
    * unioning. Never a real path — sidecar paths always end in
    * [[StatsFileName]]. */
  val EmptyStatsLayer = "-"

  /** The manifest schema with each renamed column under its PHYSICAL
    * (birth) name — what data files actually store; field order and
    * types preserved (r20 rename mapping).
    */
  private[lake] def physSchema(schema: StructType, renames: Map[String, String]): StructType =
    if (renames.isEmpty) schema
    else StructType(schema.fields.map(f =>
      renames.get(f.name).map(p => f.copy(name = p)).getOrElse(f)))

  /** The rename map for a commit introducing `nowCols`: previous entries
    * carry over, and any NEW column whose name was ever used as a
    * PHYSICAL name (a re-added dropped column, or a new column named like
    * a renamed-away original) gets a fresh `name#N` physical — otherwise
    * `spark.read.schema(physSchema)` would resurrect the old files' data
    * under the new column (r20).
    */
  private[lake] def assignPhysical(
      prevSchema: Option[StructType],
      renames: Map[String, String],
      retired: Seq[String],
      nowCols: Seq[String]): Map[String, String] = {
    val existing = prevSchema.map(_.fieldNames.toSet).getOrElse(Set.empty)
    val used = scala.collection.mutable.Set[String]()
    prevSchema.foreach(_.fieldNames.foreach(n => used += renames.getOrElse(n, n)))
    used ++= retired
    var out = renames
    for (c <- nowCols
        if !existing.contains(c) && c != BucketCol && c != OpCol && c != DvCol) {
      if (used.contains(c)) {
        var i = 2
        while (used.contains(s"$c#$i")) i += 1
        out += (c -> s"$c#$i")
        used += s"$c#$i"
      } else used += c
    }
    out
  }

  /** Parsed per-column sidecar stats: min/max bounds (absent = all-null
    * or non-finite) and the null count (absent on early-r13 sidecars). */
  private[lake] final case class ColStat(
      mn: Option[JsonNode], mx: Option[JsonNode], nulls: Option[Long])

  /** Parsed per-bucket sidecar stats: row count (absent on early-r13
    * sidecars), per-column stats, and (r14, Hudi metadata-table
    * `col_stats` shape) per-FILE stats keyed by file name within the
    * bucket dir — each file's entry reuses this class with `files`
    * empty. Absent on pre-r14 sidecars (bucket-level pruning only). */
  private[lake] final case class BucketStats(
      rows: Option[Long], cols: Map[String, ColStat],
      files: Map[String, BucketStats] = Map.empty)

  /** Stored-bound ordering: the same families [[LakeTable.excludes]]'
    * cmp compares (numbers by exact decimal value, strings by UTF-8
    * bytes); None for a mixed/unknown pair — callers must treat the
    * column as unprunable then.
    */
  private def cmpNodes(a: JsonNode, b: JsonNode): Option[Int] =
    if (a.isNumber && b.isNumber) Some(a.decimalValue().compareTo(b.decimalValue()))
    else if (a.isTextual && b.isTextual) Some(java.util.Arrays.compareUnsigned(
      a.asText().getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.asText().getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    else None

  /** Conservative union of per-layer stats (base + delta sidecars of one
    * bucket, r15): a column's union bounds exist only when EVERY layer
    * either records bounds or is PROVABLY all-null in it (nulls == rows
    * — bounds can also be absent because a non-finite double bound was
    * dropped, and treating that as "no values" would un-cover real
    * rows). Rows/nulls sum across layers (tombstoned rows stay counted —
    * over-covering is the conservative direction for every predicate the
    * prune side evaluates). Mixed-kind bounds (a widening changed the
    * JSON shape between layers) drop the column.
    */
  private[lake] def unionStats(layers: Seq[BucketStats]): BucketStats = {
    if (layers.isEmpty) return BucketStats(None, Map.empty)
    val rows =
      if (layers.forall(_.rows.isDefined)) Some(layers.flatMap(_.rows).sum) else None
    val shared = layers.map(_.cols.keySet).reduce(_ & _)
    val cols = shared.flatMap { c =>
      val entries = layers.map(l => (l, l.cols(c)))
      def known(l: BucketStats, e: ColStat): Boolean =
        (e.mn.isDefined && e.mx.isDefined) ||
          (for { n <- e.nulls; r <- l.rows } yield n == r).getOrElse(false)
      if (!entries.forall((known _).tupled)) None
      else {
        val mns = entries.flatMap(_._2.mn)
        val mxs = entries.flatMap(_._2.mx)
        def reduceBy(ns: Seq[JsonNode], pick: Int => Boolean): Option[JsonNode] =
          ns.foldLeft(Option.empty[Option[JsonNode]]) {
            case (None, n) => Some(Some(n))
            case (Some(None), _) => Some(None) // poisoned by a mixed pair
            case (Some(Some(a)), n) =>
              Some(cmpNodes(a, n).map(s => if (pick(s)) a else n))
          }.flatten
        val mn = reduceBy(mns, _ <= 0)
        val mx = reduceBy(mxs, _ >= 0)
        // a poisoned (mixed-kind) reduction drops the whole column: half-
        // known bounds would let one-sided range tests prune wrongly
        if ((mns.nonEmpty && mn.isEmpty) || (mxs.nonEmpty && mx.isEmpty)) None
        else {
          val nulls =
            if (entries.forall(_._2.nulls.isDefined)) Some(entries.flatMap(_._2.nulls).sum)
            else None
          Some(c -> ColStat(mn, mx, nulls))
        }
      }
    }.toMap
    BucketStats(rows, cols, Map.empty)
  }

  /** Parse a user-facing instant: epoch millis, or
    * 'yyyy-MM-dd HH:mm:ss[.SSS]' read as UTC (the `timestampAsOf` /
    * `startingTimestamp` option shape). Loud on anything else.
    */
  def parseInstantMillis(raw: String): Long = {
    val v = raw.trim
    require(v.nonEmpty, "instant must be non-empty")
    if (v.forall(_.isDigit)) v.toLong
    else try {
      java.time.LocalDateTime.parse(v.replace(" ", "T"))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    } catch {
      case e: java.time.format.DateTimeParseException =>
        throw new IllegalArgumentException(
          s"instant takes epoch millis or 'yyyy-MM-dd HH:mm:ss' (UTC), got '$v'", e)
    }
  }
  /** Delta-file meta columns (merge-on-read, docs/MOR_DESIGN.md): the row
    * operation and the commit version that wrote it. Reserved names —
    * payload columns must not collide.
    */
  val OpCol = "_op"
  val DvCol = "_dv"
  val UpsertOp = "u"
  val DeleteOp = "d"
  /** Change-feed tag column emitted by [[LakeTable.changesBetween]]. */
  val ChangeTypeCol = "_change_type"
  /** Table types: copy-on-write (default — every commit rewrites affected
    * buckets) vs merge-on-read (small commits append per-bucket delta
    * logs, folded every [[LakeTable.compactAfter]] commits or on
    * `compact()`).
    */
  val CowType = "cow"
  val MorType = "mor"
  /** Whole-row last-write-wins (Hudi OverwriteWithLatestAvroPayload). */
  val OverwriteMode = "overwrite"
  /** Per-column winning-fragment times on `mergeMode=partial` tables —
    * reserved table-wide like the mor meta columns. */
  val PtsCol = "_pts"
  /** Per-column newest-non-null (Hudi PartialUpdateAvroPayload). */
  val PartialMode = "partial"
  /** Bounded re-merge attempts when a concurrent writer wins the publish
    * race (optimistic concurrency; see writeCommit). */
  val MaxCommitRetries = 5
  val DefaultNumBuckets = 16
  val CommitsDirName = "_commits"
  val DataDirName = "data"

  private val VersionFileRe = """v(\d{8})\.json""".r
  private val BucketDirRe = (BucketCol + """=(\d+)""").r

  private def versionFileName(v: Long): String = "v%08d.json".format(v)

  /** Bucket id of a key column — the one Spark-side bucket expression (write
    * layout, pruning and PartitionedLakeTable's routing all call it);
    * [[bucketOfKeyBytes]] is its driver-side mirror.
    */
  def bucketOf(key: Column, numBuckets: Int): Column =
    pmod(xxhash64(key), lit(numBuckets)).cast("int")

  /** `codes(p)` is an int that Spark's HashPartitioning over `n`
    * partitions (Murmur3, seed 42) places in partition p: hashing
    * `codes(task)` sends a row to exactly `task`.
    */
  private[lake] def hashPartitionCodes(n: Int): Array[Int] = {
    val codes = Array.fill(n)(-1)
    var (left, c) = (n, 0)
    while (left > 0) {
      val p = Math.floorMod(org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(c, 42), n)
      if (codes(p) < 0) { codes(p) = c; left -= 1 }
      c += 1
    }
    codes
  }

  /** Driver-side mirror of `bucketOf` (xxhash64 with Spark's default seed). */
  def bucketOfKey(key: String, numBuckets: Int): Int =
    bucketOfKeyBytes(key.getBytes(java.nio.charset.StandardCharsets.UTF_8), numBuckets)

  /** THE bucket function, over the key's UTF-8 bytes — the single
    * implementation behind `bucketOf` (Column), [[bucketOfKey]] (String)
    * and [[BloomKeyLookup]] (UTF8String): three call sites, one hash, so
    * a seed/modulo change can't silently diverge a prune from the write
    * path.
    */
  def bucketOfKeyBytes(bytes: Array[Byte], numBuckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUnsafeBytes(
        bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        bytes.length,
        42L)
    val m = h % numBuckets
    (if (m < 0) m + numBuckets else m).toInt
  }

  /** Manifest = one committed version: bucket -> relative data dir, plus
    * bucket -> relative bloom SIDECAR path (`.../b=<i>/_bloom`). Filters
    * live beside their bucket's data — the manifest stays KB-sized at any
    * bucket count and a sidecar is fetched only when a prune actually
    * wants it.
    *
    * Merge-on-read additions (docs/MOR_DESIGN.md): `deltas` is the ORDERED
    * list of delta dirs layered on each bucket since its last base
    * rewrite (empty for pure-COW tables — the JSON stays additive, old
    * manifests deserialize with no deltas), `deltaBlooms` their sidecar
    * paths. A bucket may exist in `deltas` alone (first keys of a bucket
    * arriving as a delta): effective presence is [[allBuckets]].
    */
  final case class Manifest(
      version: Long,
      commitId: String,
      numBuckets: Int,
      buckets: Map[Int, String],
      bloomFiles: Map[Int, String],
      schemaJson: String,
      deltas: Map[Int, Seq[String]] = Map.empty,
      deltaBlooms: Map[Int, Seq[String]] = Map.empty,
      statsFiles: Map[Int, String] = Map.empty,
      commitTimeMs: Long = 0L,
      // r15: per-delta-commit stats sidecars, aligned with `deltas` (one
      // path per stacked delta layer). A bucket prunes under a live stack
      // only when EVERY layer has stats (stack lengths equal) — see
      // statsPrunedBuckets.
      deltaStats: Map[Int, Seq[String]] = Map.empty,
      // r20 column rename/drop (manifest name-mapping — the addColumns
      // precedent; Hudi/Iceberg-style logical-over-physical evolution).
      // FILES ALWAYS STORE A COLUMN'S BIRTH ("physical") NAME; the
      // manifest schema is LOGICAL. `renames` maps logical -> physical
      // for exactly the columns whose two names differ (reads alias
      // physical -> logical at the scan, writes alias back; sidecar
      // stats are keyed physical, so pruning SURVIVES renames).
      // `retired` lists physical names freed by dropColumn: a re-added
      // same-named column gets a FRESH physical name, so old file data
      // (and old sidecar stats) can never resurrect under the new
      // column. Both additive — old manifests deserialize empty.
      renames: Map[String, String] = Map.empty,
      retired: Seq[String] = Nil) {

    /** Buckets holding any data: a base dir, a delta stack, or both. */
    def allBuckets: Set[Int] = buckets.keySet ++ deltas.keySet

    def toJson: String = {
      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("version", version)
      root.put("commitId", commitId)
      root.put("numBuckets", numBuckets)
      val b = root.putObject("buckets")
      buckets.toSeq.sortBy(_._1).foreach { case (k, v) => b.put(k.toString, v) }
      val bl = root.putObject("bloomFiles")
      bloomFiles.toSeq.sortBy(_._1).foreach { case (k, v) => bl.put(k.toString, v) }
      root.put("schemaJson", schemaJson)
      def putSeqMap(name: String, m: Map[Int, Seq[String]]): Unit =
        if (m.nonEmpty) {
          val node = root.putObject(name)
          m.toSeq.sortBy(_._1).foreach { case (k, vs) =>
            val arr = node.putArray(k.toString)
            vs.foreach(arr.add)
          }
        }
      putSeqMap("deltas", deltas)
      putSeqMap("deltaBlooms", deltaBlooms)
      putSeqMap("deltaStats", deltaStats)
      if (statsFiles.nonEmpty) {
        val st = root.putObject("statsFiles")
        statsFiles.toSeq.sortBy(_._1).foreach { case (k, v) => st.put(k.toString, v) }
      }
      if (renames.nonEmpty) {
        val rn = root.putObject("renames")
        renames.toSeq.sortBy(_._1).foreach { case (k, v) => rn.put(k, v) }
      }
      if (retired.nonEmpty) {
        val rt = root.putArray("retired")
        retired.foreach(rt.add)
      }
      root.put("commitTimeMs", commitTimeMs)
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
    }
  }

  object Manifest {
    def fromJson(s: String): Manifest = {
      val root = new ObjectMapper().readTree(s)
      def objMap(name: String): Map[Int, String] = {
        val node = root.get(name)
        if (node == null || !node.isObject) Map.empty
        else {
          val obj = node.asInstanceOf[ObjectNode]
          obj.fieldNames().asScala
            .map(k => k.toInt -> obj.get(k).asText()).toMap
        }
      }
      def seqMap(name: String): Map[Int, Seq[String]] = {
        val node = root.get(name)
        if (node == null || !node.isObject) Map.empty
        else {
          val obj = node.asInstanceOf[ObjectNode]
          obj.fieldNames().asScala.map { k =>
            k.toInt -> obj.get(k).elements().asScala.map(_.asText()).toSeq
          }.toMap
        }
      }
      Manifest(
        version = root.get("version").asLong(),
        commitId = root.get("commitId").asText(""),
        numBuckets = root.get("numBuckets").asInt(),
        buckets = objMap("buckets"),
        bloomFiles = objMap("bloomFiles"),
        schemaJson = root.get("schemaJson").asText(),
        deltas = seqMap("deltas"),
        deltaBlooms = seqMap("deltaBlooms"),
        statsFiles = objMap("statsFiles"),
        // pre-r12 manifests carry no commit time — 0 keeps them resolvable
        // by versionAt (they sort before any stamped commit)
        commitTimeMs =
          Option(root.get("commitTimeMs")).map(_.asLong()).getOrElse(0L),
        deltaStats = seqMap("deltaStats"),
        renames = {
          val node = root.get("renames")
          if (node == null || !node.isObject) Map.empty
          else {
            val obj = node.asInstanceOf[ObjectNode]
            obj.fieldNames().asScala.map(k => k -> obj.get(k).asText()).toMap
          }
        },
        retired = {
          val node = root.get("retired")
          if (node == null || !node.isArray) Nil
          else node.elements().asScala.map(_.asText()).toSeq
        })
    }
  }
}
