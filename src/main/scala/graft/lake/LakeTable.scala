package graft.lake

import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

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
  * The merge itself is one last-write-wins aggregation,
  * [[LakeTable.overwriteCollapse]] (per column: [[LakeTable.partialCollapse]])
  * — no global sort; merge-on-read readers collapse delta stacks with the
  * same function. It runs on the write's bucket layout, so a commit
  * shuffles its rows once: into the tasks that write each bucket's files.
  *
  * == Concurrency / idempotency ==
  * Every commit — data writes, restores and manifest-only schema changes —
  * goes through one optimistic-commit protocol, `commit`. The manifest is
  * written to a temp file and published if-absent via
  * [[LakeIO.publishIfAbsent]] (hard link on local FS, NameNode-atomic
  * no-overwrite rename on HDFS) — it fails if the version file already
  * exists. A writer that loses the publish race re-runs its attempt on the
  * winner's manifest (a data commit re-merges on top of it) and retries
  * (bounded by [[LakeTable.MaxCommitRetries]]) — optimistic concurrency
  * where multiple CDC streams on one table all make progress. Each commit
  * records a caller `commitId` (e.g. streaming `batchId`); replaying an
  * already-committed id is a no-op, giving exactly-once table state over
  * at-least-once batch delivery (stronger than the reference, which
  * ignores `batchId`, `BinlogHoodieSink.scala:18-21`).
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
    val statsColumns: Seq[String] = Nil) extends LakeHandle {
  import LakeTable._

  /** A plain table has no partition columns. */
  def partitionCols: Seq[String] = Nil

  require(numBuckets > 0, s"numBuckets must be positive: $numBuckets")
  require(filesPerBucket > 0, s"filesPerBucket must be positive: $filesPerBucket")
  if (zorderBy.nonEmpty)
    ZOrder.invalid(zorderBy).foreach(e => throw new IllegalArgumentException(s"zorderBy $e"))
  // tableType drives WRITES only — reads are manifest-driven (readBuckets
  // merges any delta stack it finds), so cow and mor handles on one table
  // interoperate: a cow commit simply folds the buckets it touches.
  require(tableType == CowType || tableType == MorType,
    s"tableType must be '$CowType' or '$MorType': $tableType")
  require(compactAfter > 0, s"compactAfter must be positive: $compactAfter")
  require(mergeMode == OverwriteMode || mergeMode == PartialMode,
    s"mergeMode must be '$OverwriteMode' or '$PartialMode': $mergeMode")
  // mergeMode=partial works on BOTH table types: cow folds at write time,
  // mor defers to the read-side stack collapse, and both run
  // [[LakeTable.partialCollapse]]. That is sound because the `_pts`
  // per-column-time map makes the fold associative across any commit
  // grouping (q85's proof), so collapsing N delta fragments at read equals
  // folding them one commit at a time. Readers pick the collapse from the
  // MANIFEST SCHEMA (`_pts` present = partial table), never from handle
  // construction, so cow/mor/reader handles keep interoperating on one
  // table.

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
    * Public alias [[commitIdOf]] backs `CALL show_commits`.
    */
  def commitIdOf(version: Long): Option[String] =
    manifestCommitId(version).filter(_.nonEmpty)

  private def manifestCommitId(version: Long): Option[String] =
    try Some(readManifest(version).commitId)
    catch { case _: java.io.FileNotFoundException => None }

  /** Published manifests are create-if-absent immutable ([[publish]]), so
    * each version's parsed manifest caches on first read
    * (`isPartialTable` and the partitioned probe/stat paths re-read the
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
    * instead of tripping the loud mode guard.
    */
  def isPartialTable: Boolean = latestManifest().exists(_.schema.fieldNames.contains(PtsCol))

  /** True iff `commitId` has already been committed, including by a
    * version whose snapshot was vacuumed — replaying a batch that
    * committed before a vacuum must stay a no-op.
    */
  def isCommitted(commitId: String): Boolean = committedAfter(commitId, versions(), 0L)

  /** The replay scan: `commitId` names one of the `listed` versions newer
    * than `after`, or a vacuum tombstone newer than `after`. Manifests are
    * read before the tombstones, because vacuum writes a tombstone before
    * it deletes the manifest: a manifest gone mid-scan is then already
    * tombstoned.
    */
  private def committedAfter(commitId: String, listed: Seq[Long], after: Long): Boolean =
    commitId != null && commitId.nonEmpty && (
      listed.exists(v => v > after && manifestCommitId(v).contains(commitId)) ||
        vacuumedIds.exists { case (v, id) => v > after && id == commitId })

  /** The one optimistic-commit protocol, shared by every write and every
    * manifest-only commit (restore, latch, schema changes) — Hudi's single
    * instant-transition path. `attempt` gets the latest manifest (None on
    * an empty table) and returns None when there is nothing to publish, or
    * the next manifest plus the data dir it wrote. The protocol stamps the
    * version and `commitId` and publishes if absent.
    *
    *  - One log listing on entry serves both the full replay scan
    *    (vacuumed ids included) and attempt 0's manifest.
    *  - Right before publish and after a lost race, only the versions newer
    *    than that listing are re-scanned: a concurrent delivery of the same
    *    `commitId` that landed meanwhile ends the commit, so a replayed
    *    batch can't apply twice. The scans cost a few manifest reads, not
    *    O(table age).
    *  - A lost race re-runs `attempt` on the winner's manifest (bounded by
    *    [[LakeTable.MaxCommitRetries]]), so concurrent writers all make
    *    progress. An attempt that does not publish has its data dir deleted.
    *
    * Returns the published version, or the latest one on a replay or when
    * there is nothing to publish (0 on an empty table).
    */
  private def commit(commitId: String, op: String)(
      attempt: Option[Manifest] => Option[(Manifest, Option[HPath])]): Long = synchronized {
    var listed = versions()
    def latest: Long = listed.lastOption.getOrElse(0L)
    if (committedAfter(commitId, listed, 0L)) return latest
    val scanned = latest
    // relists the log; true iff `commitId` landed after the entry scan
    def replayed(): Boolean = { listed = versions(); committedAfter(commitId, listed, scanned) }
    var lost = 0
    while (lost <= MaxCommitRetries) {
      val cur = listed.lastOption.map(readManifest)
      val out = attempt(cur)
      if (out.isEmpty) return latest
      val (manifest, dir) = out.get
      def discard(): Unit = dir.foreach(io.deleteRecursive)
      if (commitId != null && commitId.nonEmpty && replayed()) {
        discard(); return latest
      }
      val next = cur.fold(0L)(_.version) + 1L
      try {
        publish(next, manifest.copy(version = next, commitId = commitId))
        return next
      } catch {
        case _: IllegalStateException =>
          discard()
          if (replayed()) return latest
          lost += 1
      }
    }
    throw new IllegalStateException(
      s"$op lost the publish race ${MaxCommitRetries + 1} times at $basePath")
  }

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
    * one manifest read per version. Manifests written before commit
    * times were stamped report 0.
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
    * manifest still references. Commits through [[commit]] like every
    * write (bounded retry on a lost race; a replayed restore is a no-op).
    * Returns the published version.
    */
  def restoreTo(version: Long, commitId: String = ""): Long = synchronized {
    require(
      !vacuumedIds.contains(version),
      s"version $version at $basePath was vacuumed — cannot restore to it")
    require(versions().contains(version), s"no committed version $version at $basePath")
    val target = readManifest(version)
    commit(commitId, s"restore to $version")(_ => Some(target -> None))
  }

  /** The latest manifest of a table that already holds a schema. */
  private def existing(cur: Option[Manifest], hint: String): Manifest = {
    require(cur.nonEmpty, s"empty table at $basePath — $hint")
    cur.get
  }

  /** One-time migration hook: latch an UNLATCHED table as
    * `mergeMode=partial`. A partial table written before the `_pts` stamp
    * existed, whose only commits went through bulkInsert, carries no
    * `_pts` in its manifest schema, so the mode guard on the next partial
    * upsert rejects it as an overwrite-mode table.
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
  def latchPartial(commitId: String = ""): Long =
    commit(commitId, "latchPartial") { cur =>
      import org.apache.spark.sql.types.{LongType, MapType, StringType}
      val m = existing(cur, "write through a mergeMode=partial handle instead")
      if (m.schema.fieldNames.contains(PtsCol)) None // already latched
      else Some(m.copy(schemaJson = m.schema.add(PtsCol, MapType(StringType, LongType)).json) -> None)
    }

  /** Manifest-only additive column evolution: publish a new
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
  def addColumns(cols: StructType, commitId: String = ""): Unit =
    commit(commitId, "addColumns") { cur =>
      val m = existing(cur, "the first write defines the schema")
      val schema = m.schema
      val fresh = cols.fields.filterNot(f => schema.fieldNames.contains(f.name))
      if (fresh.isEmpty) None
      else {
        val (pts, user) = schema.fields.partition(_.name == PtsCol)
        val next = StructType(user ++ fresh.map(_.copy(nullable = true)) ++ pts)
        // a re-added previously-dropped (or renamed-away) name needs a
        // fresh physical name or old file data would resurrect
        Some(m.copy(schemaJson = next.json, renames = LakeTable.assignPhysical(
          Some(schema), m.renames, m.retired, fresh.map(_.name))) -> None)
      }
    }

  /** Manifest-only column RENAME (`ALTER TABLE ... RENAME COLUMN`):
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
  def renameColumn(from: String, to: String, commitId: String = ""): Unit = {
    require(!ReservedCols.exists(r => r.equalsIgnoreCase(from) || r.equalsIgnoreCase(to)),
      s"cannot rename '$from' to '$to' — reserved lake column names")
    commit(commitId, "renameColumn") { cur =>
      val m = existing(cur, "the first write defines the schema")
      val schema = m.schema
      require(!schema.fieldNames.contains(PtsCol),
        s"cannot rename columns on a mergeMode=partial table at $basePath — " +
          "stored per-column-time maps key the old name")
      // resolve the source case-INSENSITIVELY, as Spark's own resolution
      // and the conflict check below do, and operate on the stored-case field
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(from))
      require(idx >= 0, s"no column '$from' at $basePath")
      val storedFrom = schema.fieldNames(idx)
      if (storedFrom == to) None // idempotent
      else {
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column '$to' already exists at $basePath")
        val physical = m.renames.getOrElse(storedFrom, storedFrom)
        val renames0 = m.renames - storedFrom
        Some(m.copy(
          schemaJson = StructType(schema.fields.updated(idx, schema.fields(idx).copy(name = to))).json,
          renames =
            if (physical == to) renames0 // renamed back to its birth name
            else renames0 + (to -> physical)) -> None)
      }
    }
  }

  /** Manifest-only column DROP (`ALTER TABLE ... DROP COLUMN`):
    * publish a new version whose schema omits the column — zero data IO;
    * old files keep the bytes but no read ever projects them, and the
    * column's PHYSICAL name is RETIRED so a later re-add of the same
    * logical name maps to a fresh physical name (old data can never
    * resurrect; old sidecar stats for the retired physical are ignored).
    * Time travel before the drop still reads the column. Loud: unknown
    * column, reserved names, partial-mode tables (same `_pts` rationale
    * as rename).
    */
  def dropColumn(name: String, commitId: String = ""): Unit = {
    require(!ReservedCols.exists(_.equalsIgnoreCase(name)),
      s"cannot drop '$name' — reserved lake column name")
    commit(commitId, "dropColumn") { cur =>
      val m = existing(cur, "the first write defines the schema")
      val schema = m.schema
      require(!schema.fieldNames.contains(PtsCol),
        s"cannot drop columns on a mergeMode=partial table at $basePath — " +
          "stored per-column-time maps key the dropped name")
      // case-insensitive resolution, stored-case operation (as rename)
      val idx = schema.fieldNames.indexWhere(_.equalsIgnoreCase(name))
      require(idx >= 0, s"no column '$name' at $basePath")
      val storedName = schema.fieldNames(idx)
      Some(m.copy(
        schemaJson = StructType(schema.fields.filterNot(_.name == storedName)).json,
        renames = m.renames - storedName,
        retired = m.retired :+ m.renames.getOrElse(storedName, storedName)) -> None)
    }
  }

  /** Manifest-only type widening (`ALTER TABLE ... ALTER COLUMN ...
    * TYPE ...`): publish a new version whose schema carries `name` at
    * the WIDER type — legal for exactly the pairs the write path widens
    * (int→long, float→double): reads run under the manifest schema, so
    * files written at the narrow type upcast in the vectorized reader
    * (the same mechanism a widening upsert relies on). Anything else —
    * unknown column, narrowing, cross-kind — fails loudly. Same-type is
    * an idempotent no-op.
    */
  def widenColumn(name: String, to: DataType, commitId: String = ""): Unit = {
    import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType}
    def widens(from: DataType): Boolean = (from, to) match {
      case (IntegerType, LongType) | (FloatType, DoubleType) => true
      case _ => false
    }
    commit(commitId, "widenColumn") { cur =>
      val m = existing(cur, "the first write defines the schema")
      val schema = m.schema
      val idx = schema.fieldNames.indexOf(name)
      require(idx >= 0, s"no column '$name' at $basePath")
      val from = schema.fields(idx).dataType
      if (from == to) None // idempotent
      else {
        require(widens(from),
          s"cannot change column '$name' from ${from.simpleString} to " +
            s"${to.simpleString} — only the lake's widening pairs " +
            "(int->bigint, float->double) are manifest-safe")
        Some(m.copy(schemaJson = StructType(
          schema.fields.updated(idx, schema.fields(idx).copy(dataType = to))).json) -> None)
      }
    }
  }

  /** Incremental read from `sinceVersion` to the latest version — see
    * [[incrementalBetween]].
    */
  def incremental(sinceVersion: Long): DataFrame =
    incrementalBetween(sinceVersion, latestVersion.getOrElse(
      throw new IllegalArgumentException(s"empty table at $basePath")))

  /** Timestamp-bounded incremental read — Hudi's incremental query with
    * `read.begin.instanttime` AND `read.end.instanttime`: rows changed
    * in commits landing strictly after `beginMillis` up to and including
    * `endMillis`, resolved through the stamped commit times
    * ([[versionAt]] on each bound). A begin before the first commit
    * reads from the table's birth. A range holding no commit is empty
    * and keeps the stored schema: both bounds resolve to one version,
    * whose diff with itself is empty, or the end precedes every commit.
    */
  def incrementalBetweenTimes(beginMillis: Long, endMillis: Long): DataFrame = {
    require(beginMillis <= endMillis,
      s"begin $beginMillis is after end $endMillis")
    val since = versionAt(beginMillis).getOrElse(0L)
    versionAt(endMillis) match {
      case Some(until) => incrementalBetween(since, until)
      case None => latestManifest().fold(spark.emptyDataFrame)(readBuckets(_, Set.empty))
    }
  }

  /** Rows visibly changed in versions `(sinceVersion, untilVersion]`: the
    * rows of `untilVersion`'s snapshot that `sinceVersion`'s snapshot
    * does not hold with every visible column equal (null-safe). It backs
    * [[graft.sources.LakeIncrementalSource]]: each micro-batch covers
    * exactly one committed version range, so a replay after a checkpoint
    * restart is deterministic.
    *
    * `_ts` is a column like any other, not a change marker. An overwrite
    * that keeps `_ts` (an equal-`_ts` upsert, a SQL `UPDATE` that does
    * not assign `_ts`, a partial table's late fragment) is a change when
    * it changes the visible row. A rewrite that leaves the row equal is
    * not. `sinceVersion = 0` means "from the beginning": every row of
    * `untilVersion`'s snapshot. Hard-deleted keys do not appear
    * (copy-on-write incremental reads carry no tombstones, as in Hudi COW
    * incremental queries; [[changesBetween]] carries them). A vacuumed
    * version fails loudly.
    */
  def incrementalBetween(sinceVersion: Long, untilVersion: Long): DataFrame = {
    val (after, before) = versionDiff(sinceVersion, untilVersion)
    val fields = after.schema.fields
    val same = fields.map(f => comparable("_a", f) <=> comparable("_b", f)).reduce(_ && _)
    after.as("_a").join(broadcastIfSmall(before).as("_b"), same, "left_anti")
      .select(fields.map(f => col(s"_a.`${f.name}`").as(f.name)).toSeq: _*)
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
    * feed is the NET visible diff, collapsing intermediate flips. It is
    * [[incrementalBetween]]'s diff joined the other way too, so it
    * carries tombstones: ONE full-outer self-join on `_key` with
    * null-safe STRUCT equality — no per-column row explosion, no
    * driver-side state; cost ∝ change volume, never table size.
    */
  def changesBetween(sinceVersion: Long, untilVersion: Long): DataFrame = {
    val (after, before) = versionDiff(sinceVersion, untilVersion)
    val fields = after.schema.fields
    def side(s: String, c: String) = col(s"$s.`$c`")
    val nonKey = fields.filterNot(_.name == KeyCol)
    val aRow = struct(nonKey.map(comparable("_a", _)).toSeq: _*)
    val bRow = struct(nonKey.map(comparable("_b", _)).toSeq: _*)
    val changeType = when(side("_b", KeyCol).isNull, lit("insert"))
      .when(side("_a", KeyCol).isNull, lit("delete"))
      .when(!(aRow <=> bRow), lit("update_postimage"))
    after.as("_a").join(before.as("_b"), side("_a", KeyCol) === side("_b", KeyCol), "full_outer")
      .withColumn(ChangeTypeCol, changeType)
      .filter(col(ChangeTypeCol).isNotNull)
      .select(col(ChangeTypeCol) +: fields.map(f =>
        when(side("_a", KeyCol).isNull, side("_b", f.name))
          .otherwise(side("_a", f.name)).as(f.name)).toSeq: _*)
  }

  /** The one version diff behind [[incrementalBetween]] and
    * [[changesBetween]]: the after (`untilVersion`) and before
    * (`sinceVersion`) sides, each read over only the buckets that changed
    * between the two versions. A carried-forward bucket cannot differ,
    * so the cost scales with what changed, not with table size. A bucket
    * changed if its base dir moved or its delta stack did (a
    * merge-on-read commit changes only the stack; a fold empties it and
    * moves the base), or if only the before side holds it (emptied and
    * dropped by a delete or compaction).
    *
    * The before side takes the after side's columns by PHYSICAL identity
    * (the name data files store): after-side name → physical name
    * through `untilVersion`'s renames → before-side name through
    * `sinceVersion`'s renames, cast to the after type. So a rename alone
    * changes no row, a widening or an added column (null on both sides)
    * changes none, and a dropped-then-re-added column (a fresh physical
    * name) reads null on the before side. `sinceVersion = 0` diffs
    * against the empty table: the before side is the after side's empty
    * image, which the optimizer folds out of both joins.
    */
  private def versionDiff(sinceVersion: Long, untilVersion: Long): (DataFrame, DataFrame) = {
    val live = versions().toSet
    def committed(v: Long): Manifest = {
      require(live.contains(v), s"no committed version $v at $basePath")
      readManifest(v)
    }
    val newest = committed(untilVersion)
    if (sinceVersion == 0L) {
      val all = readBuckets(newest, newest.allBuckets)
      return (all, all.limit(0))
    }
    val old = committed(sinceVersion)
    val changed = newest.allBuckets.filter { b =>
      old.buckets.get(b) != newest.buckets.get(b) ||
        old.deltas.getOrElse(b, Nil) != newest.deltas.getOrElse(b, Nil)
    } ++ (old.allBuckets -- newest.allBuckets)
    val after = readBuckets(newest, changed & newest.allBuckets)
    val beforeRaw = readBuckets(old, changed & old.allBuckets)
    val beforeName = beforeRaw.columns.map(n => old.renames.getOrElse(n, n) -> n).toMap
    val before = beforeRaw.select(after.schema.fields.map { f =>
      beforeName.get(newest.renames.getOrElse(f.name, f.name)) match {
        case Some(n) => col(s"`$n`").cast(f.dataType).as(f.name)
        case None => lit(null).cast(f.dataType).as(f.name)
      }
    }.toSeq: _*)
    (after, before)
  }

  /** Column `f` of join side `s` in a form `<=>` accepts: Spark cannot
    * compare maps, so a column holding one anywhere in its type compares
    * as its to_json (the same rule as the LWW content hash).
    */
  private def comparable(s: String, f: StructField): Column = {
    val c = col(s"$s.`${f.name}`")
    if (containsMap(f.dataType)) to_json(c) else c
  }

  /** `internal = true` keeps the partial-merge `_pts` meta column (the
    * write path's own reads need it to stay associative); every
    * user-facing route strips it.
    */
  private[lake] def readBuckets(
      m: Manifest, buckets: Set[Int], internal: Boolean = false,
      pruneFiles: Map[Int, Seq[String]] = Map.empty): DataFrame = {
    val schema = m.schema
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
    // here (the one read-side seam of the rename mapping; toDF is
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
      // A delete tombstone at version v kills every upsert at version <= v
      // whatever its `_ts` ([[merge]]'s deletes-win-in-batch rule at v
      // itself, plain delete semantics below it); only tombstone-free
      // later upserts survive. Tombstones live ONLY in delta files, so the
      // delete-version aggregation is delta-sized (broadcastable).
      val delVers = stacked.filter(col(OpCol) === DeleteOp)
        .groupBy(col(KeyCol)).agg(max(col(DvCol)).as("_del_v"))
      val live = stacked.filter(col(OpCol) === UpsertOp)
        .join(broadcastIfSmall(delVers), Seq(KeyCol), "left")
        .filter(col("_del_v").isNull || col(DvCol) > col("_del_v"))
      // The survivors collapse with the commit fold's rule, the delta
      // version standing in for its old/new tag (a later delta IS the
      // later batch), so any fold cadence lands on the same state
      // (LakeMorSpec's randomized cow≡mor equivalences). Partial tables
      // collapse per column; the mode is inferred from the manifest schema
      // (`_pts` is reserved, so its presence <=> mergeMode=partial wrote
      // this table), keeping reads manifest-driven whatever this handle's
      // construction says.
      val cols = schema.fieldNames.toSeq
      val collapsed =
        if (cols.contains(PtsCol)) partialCollapse(live, Nil, col(DvCol), cols)
        else overwriteCollapse(live, Nil, col(DvCol), cols)
      plain.unionByName(collapsed)
    }
  } match {
    // drop is a no-op on non-partial tables (no such column)
    case out if internal => out
    case out => out.drop(PtsCol)
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

  /** [[upsert]] with the affected-bucket set PRE-COLLECTED by the
    * caller: a partitioned dispatch computes every partition's bucket set
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

  /** The commit fold: stored rows (`_seq` 0) and incoming rows (`_seq` 1)
    * collapse per `_key` with [[LakeTable.overwriteCollapse]] or, for
    * `mergeMode=partial`, [[LakeTable.partialCollapse]] — so updates beat
    * the snapshot on equal `_ts`. Callers with a semantic tie-break (e.g.
    * CdcSyncCommand's dedup.tiebreak.field) pre-dedup upstream. The
    * collapse runs on the write `layout` (its expression, a pure function
    * of `_key`, joins the grouping keys) and outputs `_key` as the
    * grouping attribute, so Spark sees the merged rows laid out and drops
    * the write's own repartition — one exchange per commit.
    */
  private def lwwMerge(old: DataFrame, upd: DataFrame, layout: BucketLayout): DataFrame = {
    import org.apache.spark.sql.types.{LongType, MapType, StringType}
    // `tagged` keeps the stored (manifest-schema) column order with new
    // columns appended as the manifest appends them, so the fold hashes
    // the tuple a merge-on-read collapse of the same rows hashes.
    val tagged = old.withColumn(SeqCol, lit(0L))
      .unionByName(upd.withColumn(SeqCol, lit(1L)), allowMissingColumns = true)
    val by = Seq(layout.expr, col(KeyCol))
    if (mergeMode == PartialMode) {
      val unioned =
        if (tagged.columns.contains(PtsCol)) tagged
        else tagged.withColumn(PtsCol, lit(null).cast(MapType(StringType, LongType)))
      val cols = unioned.columns.filter(_ != SeqCol).toSeq
      val payload = cols.filter(c => c != KeyCol && c != TsCol && c != PtsCol)
      partialCollapse(layout(unioned), by, col(SeqCol), cols)
        .select(((KeyCol +: TsCol +: payload) :+ PtsCol).map(col): _*)
    } else
      overwriteCollapse(layout(tagged), by, col(SeqCol), tagged.columns.filter(_ != SeqCol).toSeq)
  }

  /** Apply a batch's upserts AND deletes as ONE commit — one manifest
    * publish, one bloom pass, one new version (the CDC
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

  /** [[merge]] with a caller-collected affected-bucket hint:
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
      commitId,
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

  /** [[bulkInsert]] in the default sort mode, the [[LakeHandle]] form. */
  def bulkInsert(rows: DataFrame, commitId: String): Unit =
    bulkInsert(rows, commitId, "partition", None)

  /** [[bulkInsert]] with a caller-collected affected-bucket hint — same
    * contract as the [[upsert]] overload: the hint must equal the
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
        commitId,
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
      commitId, deltaRows = Some(df => df.withColumn(OpCol, lit(DeleteOp)))) {
      case Some(m) => bloomPrune(keys.select(KeyCol).distinct(), m)
      case None => keys.select(KeyCol).distinct()
    } { (old, ks, _) => old.join(broadcastIfSmall(ks), Seq(KeyCol), "left_anti") }
  }

  /** Per-bucket bloom filters of `m`: one entry per data FILE of the base
    * file group (when present) and of each stacked delta dir, `None`
    * marking a layer written without sidecars (unprunable). The input to
    * [[BloomKeyLookup]]'s OR-composition.
    */
  private[lake] def bloomLayers(m: Manifest): Map[Int, Seq[Option[String]]] =
    m.allBuckets.iterator.map { b =>
      val base: Seq[Option[String]] =
        if (!m.buckets.contains(b)) Nil
        else m.bloomFiles.get(b).fold(Seq(Option.empty[String]))(_.map(Some(_)))
      val nDeltas = m.deltas.getOrElse(b, Nil).size
      val withSidecars = m.deltaBlooms.getOrElse(b, Nil)
      // deltaBlooms holds one entry per sidecar-carrying delta commit; pad
      // to the stack depth so sidecar-less layers read as unprunable
      // (order is irrelevant under OR — only the count contract matters).
      b -> (base ++ withSidecars.flatten.map(Some(_)) ++
        Seq.fill(nDeltas - withSidecars.size)(None))
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
    * the stored row instead of nulling what they omit. Keys are
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
    * The distinct key set is MATERIALIZED once: the candidate collect
    * and the semi-join are two separate ACTIONS, so AQE can never share
    * the distinct's shuffle between them — without the checkpoint the
    * key set shuffles twice per probe. Batch-bounded by contract; this
    * also hardens the documented determinism seam (a nondeterministic
    * keys plan can no longer split between the two passes).
    */
  private def matchingRows(keys: DataFrame, m: Manifest): DataFrame = {
    val cand = bloomPrune(keys.select(KeyCol).distinct().localCheckpoint(), m)
    // Candidate buckets: the one routing collect, exchange-free.
    val wanted = collectBuckets(cand.select(bucketOf(col(KeyCol))), numBuckets)
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

  /** A data commit, as the attempt [[commit]] runs against each attempt's
    * manifest, in five named phases:
    *  - guard: the table's recorded merge mode and the reserved columns;
    *  - affected: which buckets the commit touches;
    *  - merge: a merge-on-read delta of the incoming rows, or a fold of
    *    them with the stored rows of the affected buckets;
    *  - write: the affected buckets' new files, with their facts;
    *  - manifest: the next manifest, from the previous one and the facts.
    *
    * `incomingFor` derives the incoming rows from the attempt's manifest
    * (delete and merge bloom-prune their key sets against it, compact reads
    * its snapshot), so a stale pre-race manifest can never decide what the
    * commit touches. Each attempt evaluates its incoming rows once: it
    * persists them when no affected-set hint resolves (the affected collect
    * and the write are then two evaluations) and unpersists them before it
    * returns. A first attempt so runs each incoming plan once, and only an
    * attempt after a lost publish race recomputes it.
    */
  private def writeCommit(
      commitId: String,
      shuffle: Boolean = true,
      deltaRows: Option[DataFrame => DataFrame] = None,
      // Some(buckets) overrides the per-commit affected distinct-collect
      // job; None falls back to computing it from the incoming rows
      // against this attempt's manifest (the merge hint's prunable-manifest
      // escape).
      affectedFor: Option[Option[Manifest] => Option[Set[Int]]] = None)(
      incomingFor: Option[Manifest] => DataFrame)(
      merge: (DataFrame, DataFrame, BucketLayout) => DataFrame): Unit =
    commit(commitId, "commit") { prev =>
      // A resolved hint means the incoming rows are evaluated once, by the
      // write, and the hinted callers stabilize their input upstream
      // (writePartitions' staged cache): a persist here would re-encode
      // every partition's slice of an already-cached batch for nothing.
      val hinted = affectedFor.flatMap(_(prev))
      val inc = incomingFor(prev)
      if (hinted.isEmpty) inc.persist()
      try {
        guard(prev, inc)
        val affected = hinted.getOrElse(affectedBuckets(inc))
        if (affected.isEmpty) None // empty batch short-circuit (ref :118-120)
        else {
          val version = prev.fold(0L)(_.version) + 1L
          val layout = bucketLayout(affected.size)
          val (merged, asDelta) = mergeRows(prev, inc, affected, version, layout, deltaRows, merge)
          val w = writeRows(prev, merged, affected, version, layout, shuffle, asDelta)
          Some(nextManifest(prev, version, affected, asDelta, w, merged.schema) -> Some(w.out))
        }
      } finally if (hinted.isEmpty) inc.unpersist()
    }

  /** Guard phase. The table's merge mode is RECORDED state (`_pts` in the
    * manifest schema <=> written partial), and the read side dispatches on
    * it, so the write side must too: an overwrite-handle upsert (or fold)
    * on a partial table would whole-row-replace composed rows (nulling
    * previously composed columns with no error), and a partial-handle
    * upsert on an overwrite table would flip every reader's collapse
    * semantics for existing rows. Loud beats either silent corruption.
    *
    * The delta meta columns are RESERVED table-wide, not just on mor
    * handles: cow and mor handles interoperate on one table, and the
    * manifest schema never carries _op/_dv — a cow write with a payload
    * column of either name would persist the column to parquet but
    * silently drop it from every read. BucketCol ('b') is reserved too:
    * the write derives it with withColumn, which would silently REPLACE a
    * payload column of that name, and partitionBy then strips it from the
    * files, so it reads back all-null. Loud on EVERY write path.
    */
  private def guard(prev: Option[Manifest], inc: DataFrame): Unit = {
    prev.foreach { m =>
      val tablePartial = m.schema.fieldNames.contains(PtsCol)
      require(tablePartial == (mergeMode == PartialMode),
        if (tablePartial)
          s"table at $basePath is mergeMode=$PartialMode (its schema carries " +
            s"$PtsCol) but this handle was constructed mergeMode=$mergeMode — " +
            "open the handle with mergeMode=partial"
        else
          s"table at $basePath is mergeMode=$OverwriteMode but this handle " +
            s"was constructed mergeMode=$PartialMode — partial and overwrite " +
            "histories cannot mix on one table (a partial table written " +
            "before the _pts stamp whose history is merge-free — bulkInsert " +
            "only — migrates via latchPartial())")
    }
    require(
      inc.columns.contains(KeyCol),
      s"incoming data must contain a '$KeyCol' column (got ${inc.columns.mkString(",")})")
    Seq(OpCol, DvCol, PtsCol, BucketCol).foreach(c => require(
      !inc.columns.contains(c),
      s"'$c' is a reserved lake meta column — rename the " +
        s"payload column (incoming: ${inc.columns.mkString(",")})"))
  }

  /** Affected phase without a hint: the distinct buckets of the incoming
    * keys, a tiny driver collect (≤ numBuckets ints) — the routing
    * collect's one-group case, one exchange-free job. Hints cover the
    * commits that must touch buckets their incoming rows can't name:
    * compact() passes every manifest bucket, else a bucket whose rows are
    * ALL tombstoned yields no snapshot keys and its base+tombstone delta
    * stack would survive compaction forever.
    */
  private def affectedBuckets(inc: DataFrame): Set[Int] =
    withJobDesc("affected")(LakeTable.collectBuckets(
      inc.select(bucketOf(col(KeyCol)).as("b")), numBuckets))

  /** Merge phase: the rows to write and whether they are a delta.
    *
    * A merge-on-read delta commit (docs/MOR_DESIGN.md) happens when this
    * handle is mor, the operation is delta-eligible (`deltaRows` given:
    * upsert / merge / delete — never bulkInsert/compact), there is a base
    * to layer on, and no affected bucket's stack has hit `compactAfter`.
    * It writes ONLY the incoming rows (op-tagged, stamped with this
    * version) and appends them to the buckets' delta stacks — O(batch)
    * write cost, nothing read. Otherwise the commit FOLDS: `readBuckets`
    * merges base+deltas into the stored rows, `merge` runs, and the
    * affected buckets' stacks reset. Whole-commit granularity: hash
    * buckets receive near-uniform traffic, so per-bucket fold decisions
    * would buy little for the complexity.
    */
  private def mergeRows(
      prev: Option[Manifest], inc: DataFrame, affected: Set[Int], version: Long,
      layout: BucketLayout, deltaRows: Option[DataFrame => DataFrame],
      merge: (DataFrame, DataFrame, BucketLayout) => DataFrame): (DataFrame, Boolean) = {
    val asDelta = deltaRows.isDefined && prev.isDefined && tableType == MorType &&
      affected.forall(b => prev.get.deltas.getOrElse(b, Nil).size < compactAfter)
    val merged =
      if (asDelta) deltaRows.get(inc).withColumn(DvCol, lit(version))
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
    // Partial tables carry `_pts` in EVERY commit's schema (null map where
    // the path didn't compose one — delta fragments, bulkInsert): readers
    // infer the partial stack collapse from the manifest schema, so the
    // column must be present from the first commit whatever write path it
    // took. Null `_pts` reads as "effective time = the row's own _ts",
    // which is exactly right for raw rows.
    val withPts =
      if (mergeMode == PartialMode && !merged.columns.contains(PtsCol))
        merged.withColumn(PtsCol, lit(null).cast(
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.LongType)))
      else merged
    (withPts, asDelta)
  }

  /** Write phase: the affected buckets' rows as new files under a fresh
    * version dir. At most `filesPerBucket` files per bucket per version
    * (the Hudi bucket-index layout; see BucketLayout); the partition count
    * scales with touched buckets, not table size. Every per-file fact the
    * commit records comes from the write tasks (FileFactsTracker): row
    * counts, the stat columns' bounds and, with bloomOnWrite, one bloom
    * sidecar per data file, published by the output committer with its
    * file. Nothing is read back. Buckets that ended up empty after the
    * merge write no file.
    */
  private def writeRows(
      prev: Option[Manifest], merged: DataFrame, affected: Set[Int], version: Long,
      layout: BucketLayout, shuffle: Boolean, asDelta: Boolean): Written = {
    val relDir = s"$DataDirName/${"v%08d".format(version)}-${UUID.randomUUID().toString.take(8)}"
    val outDir = s"$basePath/$relDir"
    // Rename mapping, write side: carry the previous manifest's
    // logical->physical map forward and assign fresh physical names to
    // colliding NEW columns (see LakeTable.assignPhysical). Files are
    // written under physical names — the one write-side seam, mirroring
    // readBuckets' read-side alias.
    val renames = LakeTable.assignPhysical(
      prev.map(_.schema), prev.map(_.renames).getOrElse(Map.empty),
      prev.map(_.retired).getOrElse(Nil), merged.schema.fieldNames)
    val clustered = cluster(merged, layout, shuffle)
    // Files store PHYSICAL names. POSITIONAL rename: each column maps
    // through `renames` independently, mirroring readBuckets' positional
    // logicalize — a sequential withColumnRenamed fold is map-order
    // sensitive (after rename(X→Y) + re-adding X, applying Y→X while the
    // live X exists duplicates the name and bricks every later write;
    // ColumnRenameSpec pins the scenario).
    val frame = clustered.toDF(
      clustered.columns.map(c => renames.getOrElse(c, c)).toIndexedSeq: _*)
    explainWrite(frame, version)
    val writtenSchema = LakeTable.physSchema(merged.schema, renames)
    val statCols = ColumnStats.columns(statsColumns, renames, writtenSchema)
    val facts = new FileFactsTracker(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration),
      if (bloomOnWrite) Some(writtenSchema.fieldIndex(KeyCol)) else None,
      statCols.map { case (c, dt) => writtenSchema.fieldIndex(c) -> dt },
      if (shuffle) Some(filesPerBucket) else None)
    withJobDesc(s"write v$version")(org.apache.spark.sql.graft.TrackedWrite.parquet(
      frame, outDir, BucketCol, s"lake:write $outDir", facts))

    val out = new HPath(outDir)
    val files: Map[Int, Seq[FileFacts]] =
      facts.files.groupBy(_.bucket).map { case (b, fs) => b -> fs.sortBy(_.name) }
    // A written bucket outside `affected` would replace (or stack on) a
    // base whose stored rows were never merged — a caller's affected hint
    // that misses a bucket of its batch. Fail before publishing.
    val stray = files.keySet -- affected
    if (stray.nonEmpty) {
      io.deleteRecursive(out)
      throw new IllegalStateException(
        s"commit at $basePath wrote buckets ${stray.toSeq.sorted.mkString(",")} " +
          "outside its affected set — an affected-bucket hint missed them")
    }
    // Column stats (ColumnStats): one sidecar per commit. A pure-delete
    // delta batch (the delete() path's shape: key + op tags, no payload,
    // no _ts) records the empty layer.
    val statsLayer = colStats.layer(relDir, files, statCols,
      deleteOnly = statsColumns.nonEmpty && asDelta &&
        merged.schema.fieldNames.forall(Set(KeyCol, OpCol, DvCol, PtsCol).contains))
    Written(relDir, out, files, statsLayer, renames)
  }

  /** The merged rows with the bucket column, laid out for the write and,
    * when the table declares Z-order, sorted on the Morton key (see
    * [[ZOrder.key]]) within each task's file, so parquet row-group min/max
    * stats prune range predicates on any clustered dimension.
    */
  private def cluster(merged: DataFrame, layout: BucketLayout, shuffle: Boolean): DataFrame = {
    val toWrite = merged.withColumn(BucketCol, bucketOf(col(KeyCol)))
    val zKey = ZOrder.key(merged, zorderBy)
    val partitioned = zKey match {
      case _ if !shuffle => toWrite // bulkInsert sortMode=none: task-local write
      case Some(z) if filesPerBucket > 1 =>
        // Z-ordered multi-file buckets RANGE-partition on (bucket, code): a
        // bucket's files then TILE the Z-curve instead of being hash-random
        // row subsets, so the per-file column stats ColumnStats records are
        // near-disjoint ranges on the clustered columns — the layout that
        // makes file-level stats pruning effective. Costs the range
        // exchange's sampling pass over the outgoing rows (the same trade
        // Hudi's sort-based clustering makes).
        toWrite.repartitionByRange(layout.partitions, col(BucketCol), z)
      // Always asked for: Spark's EnsureRequirements drops this exchange
      // when the merged rows already carry the layout (the LWW aggregate
      // ran on it), and keeps it otherwise.
      case _ => layout(toWrite)
    }
    zKey.fold(partitioned)(z => partitioned.sortWithinPartitions(col(BucketCol), z))
  }

  /** Diagnostic only: with GRAFT_EXPLAIN_WRITE set, append the physical
    * plan handed to the commit write to `<prefix>-<table tag>-v<version>.txt`;
    * the tag keeps tables (and partitions, sharing versions) apart. The
    * writer's own sort by bucket, which it adds when rows do not arrive in
    * that order, is not in the dump.
    */
  private def explainWrite(frame: DataFrame, version: Long): Unit =
    sys.env.get("GRAFT_EXPLAIN_WRITE").foreach { prefix =>
      val tag = s"${new HPath(basePath).getName}-${Integer.toHexString(basePath.hashCode)}"
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$prefix-$tag-v$version.txt"),
        frame.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")) + "\n",
        java.nio.charset.StandardCharsets.UTF_8,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    }

  /** Manifest phase: the next manifest, a pure function of the previous
    * one, this version, the affected set, delta-or-fold, what was written
    * and the merged schema. [[commit]] stamps the commitId.
    *
    * One base/stack rule for data dirs, blooms and stats: a delta commit
    * keeps every base (base blooms and stats describe base files) and
    * appends its entry to each written bucket's stack; a fold replaces the
    * affected buckets' bases and resets their stacks.
    */
  private def nextManifest(
      prev: Option[Manifest], version: Long, affected: Set[Int], asDelta: Boolean,
      w: Written, schema: StructType): Manifest = {
    def layer[E](
        base: Manifest => Map[Int, E], stack: Manifest => Map[Int, Seq[E]],
        entries: Map[Int, E]): (Map[Int, E], Map[Int, Seq[E]]) = {
      val b0 = prev.fold(Map.empty[Int, E])(base)
      val s0 = prev.fold(Map.empty[Int, Seq[E]])(stack)
      if (asDelta) (b0, s0 ++ entries.map { case (b, e) => b -> (s0.getOrElse(b, Nil) :+ e) })
      else ((b0 -- affected) ++ entries, s0 -- affected)
    }
    val written = w.files.keySet
    val (buckets, deltas) = layer(_.buckets, _.deltas,
      written.iterator.map(b => b -> s"${w.relDir}/$BucketCol=$b").toMap)
    // Bloom sidecars (key pruning for lookup, probeKeys and deletes): one
    // filter per data file, so a bucket written as several files has
    // several filters, which readers OR like stacked layers. The manifest
    // records only their paths: filter bytes stay beside the data, and the
    // manifest stays KB-sized at any bucket count.
    val (blooms, deltaBlooms) = layer(_.bloomFiles, _.deltaBlooms,
      if (!bloomOnWrite) Map.empty[Int, Seq[String]]
      else w.files.map { case (b, fs) =>
        b -> fs.flatMap(_.bloom).map(n => s"${w.relDir}/$BucketCol=$b/$n")
      })
    // The stats sidecar is recorded for every written bucket; a delta
    // commit stacks it in `deltaStats`.
    val (stats, deltaStats) = layer(_.statsFiles, _.deltaStats,
      w.statsLayer.fold(Map.empty[Int, String])(p => written.iterator.map(_ -> p).toMap))
    // The table schema never carries the delta meta columns. Safe to strip
    // unconditionally: the guard rejects any PAYLOAD column with these
    // names on every write path, so the filter only ever removes the op-tag
    // columns a delta commit adds.
    val schemaJson = mergedSchemaJson(prev, StructType(
      schema.fields.filterNot(f => f.name == OpCol || f.name == DvCol)))
    Manifest(
      version, "", numBuckets, buckets, blooms, schemaJson,
      deltas, deltaBlooms, stats, deltaStats = deltaStats,
      renames = w.renames, retired = prev.map(_.retired).getOrElse(Nil))
  }

  /** Adopt a pre-written initial-load directory as this table's FIRST
    * commit (the partitioned initial-load fast path): `srcDir`
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
    // An adopted leaf with NO bucket dirs means the
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

  /** Remove data version dirs no longer referenced by the latest
    * `keepVersions` manifests (old COW snapshots accumulate otherwise).
    * Keeps any version dir still carrying a live bucket. Manifests whose
    * referenced data dirs are removed are tombstoned into
    * `_commits/_vacuumed.json` (their commitIds stay replay-proof via
    * [[isCommitted]]; `snapshotAt` on them fails with a clear
    * "was vacuumed" error instead of a late FileNotFoundException) and
    * deleted. Returns the number of data dirs removed.
    */
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

  // ---- column min/max stats (ColumnStats) -----------------------------------

  private val colStats = new ColumnStats(io)

  /** Buckets of `m` the pushed filters can still touch, per its stats. */
  private[lake] def statsPrunedBuckets(m: Manifest, filters: Seq[SFilter]): Set[Int] =
    colStats.prunedBuckets(m, filters)

  /** Surviving buckets' surviving files, where per-file stats exclude some. */
  private[lake] def statsPrunedFiles(
      m: Manifest, keep: Set[Int], filters: Seq[SFilter]): Map[Int, Seq[String]] =
    colStats.prunedFiles(m, keep, filters)

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
    // deltaStats alone can prune too: an all-delta MOR table — no
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
        val old = m.schema
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

  /** What a commit's write phase leaves for its manifest phase: the new
    * data dir (relative and absolute), the written files' facts per
    * bucket, the stats layer entry and the logical -> physical column
    * names.
    */
  private final case class Written(
      relDir: String, out: HPath, files: Map[Int, Seq[FileFacts]],
      statsLayer: Option[String], renames: Map[String, String])

  /** The one routing collect: the distinct (group, bucket) pairs of a
    * frame of (nullable string group, non-null int bucket in
    * [0, width)), in ONE exchange-free job. Each task folds its rows into
    * a group → BitSet map and the driver ORs them, so the result is
    * bounded by groups × width bits. A null group comes back as None,
    * apart from every named group. A distinct-then-collect would plan an
    * exchange, and AQE would run 2-3 stage jobs for a handful of ints.
    * Unsafe rows are reused per task, so each group string is copied
    * before the row advances.
    */
  private[lake] def bucketsByGroup(df: DataFrame, width: Int): Map[Option[String], Set[Int]] = {
    val perTask = df.queryExecution.toRdd.mapPartitions { it =>
      val m = new java.util.HashMap[String, java.util.BitSet]()
      while (it.hasNext) {
        val r = it.next()
        val g = if (r.isNullAt(0)) null else r.getUTF8String(0).toString
        m.computeIfAbsent(g, _ => new java.util.BitSet(width)).set(r.getInt(1))
      }
      Iterator.single(m.asScala.toSeq.map { case (g, bs) => (g, bs.toLongArray) })
    }.collect()
    perTask.flatten.groupMapReduce(p => Option(p._1))(p => java.util.BitSet.valueOf(p._2)) {
      (a, b) => a.or(b); a
    }.map { case (g, bs) => g -> bs.stream().toArray.toSet }
  }

  /** Distinct values of a single non-null int bucket column: the routing
    * collect with one group.
    */
  private[lake] def collectBuckets(df: DataFrame, numBuckets: Int): Set[Int] =
    bucketsByGroup(df.select(lit(null).cast("string"), df.col(df.columns.head)), numBuckets)
      .getOrElse(None, Set.empty)

  private[lake] def containsMap(dt: DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: StructType => s.fields.exists(f => containsMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => containsMap(a.elementType)
    case _ => false
  }

  /** Last-write-wins collapse — the one rule behind the commit fold, the
    * merge-on-read stack read and the partitioned initial load (Hudi's
    * `OverwriteWithLatestAvroPayload`): one row per (`by`, `_key`), the
    * row with the greatest `(_ts, tag, content hash)`. `tag` orders rows
    * of equal `_ts`: the fold's `_seq` (stored 0, incoming 1), the
    * delta version `_dv` on read, a constant in the initial load. The
    * content hash is an xxhash64 of `cols` in the order given — an
    * arbitrary but DETERMINISTIC tie-break, so replays, partitionings,
    * fold cadences and the cow and mor paths all pick the same winner.
    * One aggregation, no global sort (Spark plans `max_by` over a struct
    * as a sort aggregate: a local sort per task).
    *
    * `_key` and every column `by` names are read from the group (the
    * commit fold's write layout rides on the grouping `_key`), every other
    * column of `cols` from the winning row — one struct shape for every
    * caller. Returns the grouped columns outside `cols`, then `cols`.
    */
  private[lake] def overwriteCollapse(
      rows: DataFrame, by: Seq[Column], tag: Column, cols: Seq[String]): DataFrame = {
    val grouped = collapseKeys(by).flatMap(b => rows.columns.find(c => col(c) == b))
    val winner = struct(cols.filterNot(grouped.contains).map(col): _*)
    rows.groupBy(collapseKeys(by): _*)
      .agg(max_by(winner, collapseOrder(col(TsCol), tag, rows, cols)).as("_r"))
      .select((grouped.filterNot(cols.contains) ++ cols).map(c =>
        if (grouped.contains(c)) col(c) else col("_r").getField(c).as(c)): _*)
  }

  /** [[overwriteCollapse]] per COLUMN, for `mergeMode=partial` (Hudi
    * `PartialUpdateAvroPayload` semantics, strengthened): each payload
    * column takes its newest non-null value BY EVENT TIME, ordered by
    * `(column time, tag, content hash)` — so an update carrying only the
    * changed columns (nulls elsewhere) composes with the stored row
    * instead of erasing it. One `max_by` per payload column, all in one
    * aggregation; the ordering is null where the column is, which
    * `max_by` skips.
    *
    * A column's time is its entry in the row's reserved `_pts` map (a
    * folded row records each column's winning fragment time there) and
    * the row's `_ts` otherwise. Without `_pts` the fold is NOT
    * associative: the merged row's single `_ts` is the max over ALL
    * fragments, so once any column advances it, a later-arriving
    * middle-aged fragment for a DIFFERENT column would lose to a stale
    * stored value (q85's mod-3 commit split: 68/150 keys wrong). With it,
    * any commit order converges to the same per-column winners. `_ts`
    * is the max across contributors — the row is as new as its newest
    * fragment. A GENUINE null cannot be told from not-carried (Hudi
    * shares the caveat); use the overwrite mode when null is a value.
    *
    * Groups and hashes as [[overwriteCollapse]]; returns `cols`.
    */
  private[lake] def partialCollapse(
      rows: DataFrame, by: Seq[Column], tag: Column, cols: Seq[String]): DataFrame = {
    val payload = cols.filterNot(c => c == KeyCol || c == TsCol || c == PtsCol)
    def time(c: String) = coalesce(element_at(col(PtsCol), lit(c)), col(TsCol))
    val aggs =
      max(col(TsCol)).as(TsCol) +:
        map_from_arrays(
          array(payload.map(lit): _*),
          array(payload.map(c => max(when(col(c).isNotNull, time(c)))): _*)).as(PtsCol) +:
        payload.map(c => max_by(col(c),
          when(col(c).isNotNull, collapseOrder(time(c), tag, rows, cols))).as(c))
    rows.groupBy(collapseKeys(by): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(cols.map(col): _*)
  }

  /** `by` plus `_key`, unless `by` already names it. */
  private def collapseKeys(by: Seq[Column]): Seq[Column] =
    if (by.contains(col(KeyCol))) by else by :+ col(KeyCol)

  /** The LWW total order: `(time, tag, xxhash64(cols))`. Spark rejects
    * hashing a map, so a column holding one anywhere in its type is
    * hashed as its to_json (same bytes => same hash). */
  private def collapseOrder(time: Column, tag: Column, rows: DataFrame, cols: Seq[String]) =
    struct(time, tag, xxhash64(cols.map(c =>
      if (containsMap(rows.schema(c).dataType)) to_json(col(c)) else col(c)): _*))

  val KeyCol = "_key"
  val TsCol = "_ts"
  val SeqCol = "_seq"
  val BucketCol = "b"
  val BloomFileName = "_bloom"
  val StatsFileName = "_stats.json"
  /** Sentinel recorded in [[Manifest.deltaStats]] for a PURE-DELETE delta
    * commit: the batch carries no payload columns,
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
    * types preserved (the rename mapping).
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
    * under the new column.
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
    * race (optimistic concurrency; see the protocol in `commit`). */
  val MaxCommitRetries = 5
  /** Names no payload column may take, nor a rename or drop touch. */
  private[lake] val ReservedCols = Set(KeyCol, TsCol, BucketCol, PtsCol, OpCol, DvCol)
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
    * bucket -> relative bloom SIDECAR paths, one per data file of the base
    * (`.../b=<i>/_bloom-<task>-<n>`; manifests from before per-file filters
    * hold one `.../b=<i>/_bloom` per bucket). Filters live beside their
    * bucket's data — the manifest stays KB-sized at any bucket count and a
    * sidecar is fetched only when a prune actually wants it.
    *
    * Merge-on-read additions (docs/MOR_DESIGN.md): `deltas` is the ORDERED
    * list of delta dirs layered on each bucket since its last base
    * rewrite (empty for pure-COW tables — the JSON stays additive, old
    * manifests deserialize with no deltas), `deltaBlooms` the sidecar
    * paths of each sidecar-carrying delta layer. A bucket may exist in
    * `deltas` alone (first keys of a bucket arriving as a delta):
    * effective presence is [[allBuckets]].
    */
  final case class Manifest(
      version: Long,
      commitId: String,
      numBuckets: Int,
      buckets: Map[Int, String],
      bloomFiles: Map[Int, Seq[String]],
      schemaJson: String,
      deltas: Map[Int, Seq[String]] = Map.empty,
      deltaBlooms: Map[Int, Seq[Seq[String]]] = Map.empty,
      statsFiles: Map[Int, String] = Map.empty,
      commitTimeMs: Long = 0L,
      // Per-delta-commit stats sidecars, aligned with `deltas` (one
      // path per stacked delta layer). A bucket prunes under a live stack
      // only when EVERY layer has stats (stack lengths equal) — see
      // ColumnStats.prunedBuckets.
      deltaStats: Map[Int, Seq[String]] = Map.empty,
      // Column rename/drop (manifest name-mapping — the addColumns
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

    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]

    def toJson: String = {
      val mapper = new ObjectMapper()
      val root = mapper.createObjectNode()
      root.put("version", version)
      root.put("commitId", commitId)
      root.put("numBuckets", numBuckets)
      val b = root.putObject("buckets")
      buckets.toSeq.sortBy(_._1).foreach { case (k, v) => b.put(k.toString, v) }
      // A layer's bloom sidecars: one path as a string (the only shape
      // before per-file filters), several as an array.
      def bloomNode(ps: Seq[String]): JsonNode =
        if (ps.size == 1) mapper.getNodeFactory.textNode(ps.head)
        else { val arr = mapper.createArrayNode(); ps.foreach(arr.add); arr }
      val bl = root.putObject("bloomFiles")
      bloomFiles.toSeq.sortBy(_._1).foreach { case (k, v) => bl.set[JsonNode](k.toString, bloomNode(v)) }
      root.put("schemaJson", schemaJson)
      def putSeqMap[E](name: String, m: Map[Int, Seq[E]])(node: E => JsonNode): Unit =
        if (m.nonEmpty) {
          val obj = root.putObject(name)
          m.toSeq.sortBy(_._1).foreach { case (k, vs) =>
            val arr = obj.putArray(k.toString)
            vs.foreach(v => arr.add(node(v)))
          }
        }
      val text = (v: String) => mapper.getNodeFactory.textNode(v): JsonNode
      putSeqMap("deltas", deltas)(text)
      putSeqMap("deltaBlooms", deltaBlooms)(bloomNode)
      putSeqMap("deltaStats", deltaStats)(text)
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
      def seqMap[E](name: String)(elem: JsonNode => E): Map[Int, Seq[E]] = {
        val node = root.get(name)
        if (node == null || !node.isObject) Map.empty
        else {
          val obj = node.asInstanceOf[ObjectNode]
          obj.fieldNames().asScala.map { k =>
            k.toInt -> obj.get(k).elements().asScala.map(elem).toSeq
          }.toMap
        }
      }
      def paths(n: JsonNode): Seq[String] =
        if (n.isArray) n.elements().asScala.map(_.asText()).toSeq else Seq(n.asText())
      Manifest(
        version = root.get("version").asLong(),
        commitId = root.get("commitId").asText(""),
        numBuckets = root.get("numBuckets").asInt(),
        buckets = objMap("buckets"),
        bloomFiles = {
          val node = root.get("bloomFiles")
          if (node == null || !node.isObject) Map.empty
          else node.fields().asScala.map(e => e.getKey.toInt -> paths(e.getValue)).toMap
        },
        schemaJson = root.get("schemaJson").asText(),
        deltas = seqMap("deltas")(_.asText()),
        deltaBlooms = seqMap("deltaBlooms")(paths),
        statsFiles = objMap("statsFiles"),
        // manifests older than commit-time stamping carry none — 0 keeps
        // them resolvable by versionAt (they sort before any stamped commit)
        commitTimeMs =
          Option(root.get("commitTimeMs")).map(_.asLong()).getOrElse(0L),
        deltaStats = seqMap("deltaStats")(_.asText()),
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
