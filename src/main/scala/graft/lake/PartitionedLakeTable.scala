package graft.lake

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** Business-partitioned lake table: one bucketed [[LakeTable]] per value of
  * a partition column (`basePath/p=<value>/...`), the Hudi partition-path
  * layout over our COW core. `partitionCol` may be a COMMA-SEPARATED list
  * (Hudi ComplexKeyGenerator partition-path parity,
  * `hoodie.datasource.write.partitionpath.field` accepts the same shape;
  * reference config surface `BinlogSyncHoodieCommand.scala:128-139`): a
  * composite declaration like `"region,day"` creates the NESTED layout
  * `basePath/p=<region>/p=<day>/...`, and the partition IDENTITY every
  * surface exchanges — [[partitions]], version vectors, savepoints,
  * `drop_partitions`, routed deletes — becomes the slash-joined component
  * path (`eu/2024-01-01`). Composite component values must not contain
  * `/` (loud at write/routing time — the joined identity must stay
  * unambiguous); single-column values keep the old anything-goes contract
  * (each component is URL-encoded in the directory name either way).
  *
  * Scale properties layer cleanly:
  *  - writes touch only the partitions present in the batch (driver loop
  *    over one bounded routing collect, [[routed]]);
  *  - within a partition, only affected key buckets rewrite;
  *  - reads with a partition predicate open only those partition dirs
  *    (partition pruning before any file I/O — composite layouts prune on
  *    ANY constrained component), then bucket/bloom pruning applies per
  *    partition.
  *
  * Partition values are encoded as directory names; keep them simple
  * (dates, categories). Idempotency: the caller commitId is scoped per
  * partition, so replaying a batch skips exactly the partitions that
  * already committed.
  */
final class PartitionedLakeTable(
    spark: SparkSession,
    val basePath: String,
    val partitionCol: String,
    val numBuckets: Int = LakeTable.DefaultNumBuckets,
    val filesPerBucket: Int = 1,
    val bloomOnWrite: Boolean = true,
    val zorderBy: Seq[String] = Nil,
    val tableType: String = LakeTable.CowType,
    val compactAfter: Int = 8,
    val mergeMode: String = LakeTable.OverwriteMode,
    val statsColumns: Seq[String] = Nil) extends LakeHandle {

  /** The partition column names, in layout (nesting) order. */
  val partitionCols: Seq[String] =
    partitionCol.split(",").map(_.trim).filter(_.nonEmpty).toSeq
  require(partitionCols.nonEmpty,
    s"partitionCol must name at least one column, got '$partitionCol'")
  require(
    partitionCols.map(_.toLowerCase(java.util.Locale.ROOT)).distinct.size ==
      partitionCols.size,
    s"duplicate partition columns: ${partitionCols.mkString(",")}")

  private val PartPrefix = "p="

  private val io = new LakeIO(basePath, spark.sparkContext.hadoopConfiguration)

  /** Identity → components. Single-column identities are the raw value
    * (which may legitimately contain `/`); composite
    * identities split on the join separator, arity-checked loudly.
    */
  private def splitVals(v: String): Seq[String] =
    if (partitionCols.size == 1) Seq(v)
    else {
      val parts = scala.collection.immutable.ArraySeq.unsafeWrapArray(v.split("/", -1))
      require(parts.size == partitionCols.size,
        s"partition value '$v' has ${parts.size} component(s) — the table " +
          s"is partitioned on (${partitionCols.mkString(",")}): " +
          s"${partitionCols.size} components joined by '/'")
      parts
    }

  /** Table-level metadata: the partition column's ORIGINAL data type, so a
    * table partitioned on a non-string column (e.g. a LongType field via
    * CDC partition.field) reads back with the schema it was written with —
    * directory names are strings, the type is not recoverable from them.
    */
  private val metaFile: HPath = io.resolve("_table.json")

  private val droppedFile: HPath = io.resolve("_dropped.json")

  private def writeMetaIfAbsent(dts: Seq[DataType]): Unit = synchronized {
    if (io.exists(metaFile)) {
      // A handle whose declaration disagrees with the STORED layout must
      // not write new dirs under a different nesting (the same
      // validated-never-trusted contract LakeHandle.forWrite applies;
      // this guard covers direct Scala construction too).
      val stored = new ObjectMapper().readTree(io.readString(metaFile))
        .get("partitionCol").asText()
      val storedCols = stored.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(
        storedCols.size == partitionCols.size &&
          storedCols.zip(partitionCols).forall { case (a, b) => a.equalsIgnoreCase(b) },
        s"table at $basePath is partitioned on '$stored' — this handle " +
          s"declares '${partitionCols.mkString(",")}'")
      return
    }
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    root.put("partitionCol", partitionCols.mkString(","))
    // legacy single-column field kept for readers that predate
    // composite layouts
    if (dts.size == 1) root.put("partitionTypeJson", dts.head.json)
    val arr = root.putArray("partitionTypesJson")
    dts.foreach(dt => arr.add(dt.json))
    try io.publishIfAbsent(metaFile, mapper.writeValueAsString(root))
    catch {
      // concurrent writer published it first — contents are identical
      case _: IllegalStateException => ()
    }
  }

  /** Stored ORIGINAL data types, one per partition column (layout order). */
  private def partitionTypes: Seq[DataType] =
    if (!io.exists(metaFile)) partitionCols.map(_ => StringType)
    else {
      val node = new ObjectMapper().readTree(io.readString(metaFile))
      val arr = node.get("partitionTypesJson")
      if (arr != null)
        (0 until arr.size()).map(i => DataType.fromJson(arr.get(i).asText()))
      else Seq(DataType.fromJson(node.get("partitionTypeJson").asText()))
    }

  private def encode(v: String): String =
    java.net.URLEncoder.encode(v, "UTF-8")

  private def decode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  /** Leaf directory of one partition identity: nested `p=` levels, one
    * per component, each URL-encoded independently.
    */
  private def partDir(v: String): String =
    basePath + "/" + splitVals(v).map(c => PartPrefix + encode(c)).mkString("/")

  /** The commitId a table-level commit records in one partition (`p=<v>`)
    * or for its global deletes, so a replay finds each of its commits;
    * an empty commitId stays empty (no idempotency asked for).
    */
  private def scoped(commitId: String, scope: String): String =
    if (commitId.isEmpty) "" else s"$commitId:$scope"

  /** One cached handle per partition value: `LakeTable` caches immutable
    * per-version metadata on the handle (commit times, stats sidecars) —
    * a fresh handle per call would re-read those small files from
    * storage on every filtered scan / timestamp resolution, multiplied
    * by partition count (a planning-latency cost).
    * Handles are stateless apart from those caches, so sharing is safe.
    */
  private val handleCache =
    new java.util.concurrent.ConcurrentHashMap[String, LakeTable]()

  def partitionTable(value: String): LakeTable =
    handleCache.computeIfAbsent(value, v =>
      new LakeTable(
        spark, partDir(v), numBuckets,
        filesPerBucket = filesPerBucket, zorderBy = zorderBy,
        bloomOnWrite = bloomOnWrite, tableType = tableType,
        compactAfter = compactAfter, mergeMode = mergeMode,
        statsColumns = statsColumns))

  /** True iff the STORED table is mergeMode=partial — a committed
    * partition's manifest schema carries `_pts` (partitions share one
    * logical mode: the CDC sink writes them all under one table config).
    * Same purpose as [[LakeTable.isPartialTable]]. Mixed state
    * (e.g. `latchPartial` applied to only some partitions) fails LOUDLY
    * instead of routing writes with an arbitrary first partition's mode;
    * the probe reads one tiny manifest per partition.
    */
  def isPartialTable: Boolean = {
    val modes = partitions.map(v => v -> partitionTable(v).isPartialTable)
    modes.map(_._2).distinct match {
      case Seq() => false
      case Seq(one) => one
      case _ =>
        val (p, o) = modes.partition(_._2)
        throw new IllegalStateException(
          s"mixed merge modes across partitions at $basePath — partial: " +
            s"${p.map(_._1).mkString(",")}; overwrite: ${o.map(_._1).mkString(",")}. " +
            "Run latchPartial on the stragglers (or restore) before writing.")
    }
  }

  /** Partitions a probe addresses, with the manifest each one reads:
    * the pinned version vector's when given (no directory listing — the
    * vector is the authority, and every probe of one statement sees ONE
    * committed state), else the committed listing at latest;
    * optionally restricted to in-band named values (`inPartitions` — the
    * [[deleteRouted]] routing contract). Unknown named values are
    * cheap no-ops, same as deleteRouted.
    */
  private def probeTargets(
      inPartitions: Option[Seq[String]],
      atVersions: Option[Map[String, Long]]): Seq[(String, LakeTable, LakeTable.Manifest)] = {
    val base: Seq[String] = atVersions match {
      case Some(vec) => vec.keys.toSeq.sorted
      case None => partitions
    }
    val named = inPartitions match {
      case Some(vs) => val s = vs.toSet; base.filter(s.contains)
      case None => base
    }
    named.flatMap { v =>
      val t = partitionTable(v)
      (atVersions match {
        case Some(vec) => Some(t.readManifest(vec(v)))
        case None => t.latestManifest()
      }).map(m => (v, t, m))
    }
  }

  /** The distinct probe key set, MATERIALIZED once (measured with
    * MergeScaleProbe): every per-partition branch filters the
    * key set through ITS bloom sidecars, and Catalyst pushes that
    * deterministic filter BELOW the distinct aggregate — which makes
    * each branch's exchange canonically DIFFERENT, defeats AQE stage
    * reuse, and re-shuffles the whole key set once per partition
    * (O(partitions × batch) shuffle + one AQE stage job per partition).
    * A localCheckpoint leaf cannot absorb the filter, so the branches
    * become narrow reads of cached blocks: O(batch) shuffle total,
    * whatever the partition count. Batch-bounded by contract — the
    * legitimate reuse-across-different-plan-shapes materialization case
    * (candidate union, per-branch blooms, final semi-join).
    */
  private def materializedKeys(keys: DataFrame): DataFrame =
    keys.select(LakeTable.KeyCol).distinct().localCheckpoint()

  /** Candidate (partition, bucket) pairs for a key set, resolved by the
    * routing collect ([[LakeTable.bucketsByGroup]]) in ONE driver job
    * across every probed partition, instead of one eager candidate
    * collect per partition. Each partition's key set is bloom-pruned
    * against ITS sidecars first, so partitions provably holding none of
    * the keys contribute nothing.
    */
  private def candidateBuckets(
      ks: DataFrame,
      targets: Seq[(String, LakeTable, LakeTable.Manifest)]): Map[String, Set[Int]] =
    LakeTable.bucketsByGroup(
      targets.map { case (v, t, m) =>
        t.bloomPrune(ks, m).select(lit(v), t.bucketOf(col(LakeTable.KeyCol)))
      }.reduce(_.union(_)),
      numBuckets).collect { case (Some(v), bs) => v -> bs }

  /** Exact key-membership probe (for SQL MERGE's branch split on
    * partitioned targets; batched, routable and pinnable). `_key`
    * identity is GLOBAL by default (same contract as the key-only
    * [[delete]] fan-out): every committed partition is probed — but ONE
    * candidate job decides all surviving (partition, bucket) scans, and
    * per-partition bloom pruning means partitions provably holding none
    * of the keys scan nothing. `inPartitions` restricts the probe to
    * named partitions (the caller asserts the keys can only live there —
    * [[deleteRouted]]'s in-band trust contract); `atVersions` pins each
    * partition's manifest (snapshot-consistent probes). Same determinism
    * contract on `keys` as the plain probe.
    */
  def probeKeys(
      keys: DataFrame,
      inPartitions: Option[Seq[String]] = None,
      atVersions: Option[Map[String, Long]] = None): DataFrame = {
    val targets = probeTargets(inPartitions, atVersions)
    if (targets.isEmpty) return keys.select(LakeTable.KeyCol).limit(0)
    val ks = materializedKeys(keys)
    val byPart = candidateBuckets(ks, targets)
    val scans = targets.flatMap { case (v, t, m) =>
      byPart.get(v).map(bs => t.readBuckets(m, bs).select(LakeTable.KeyCol))
    }
    scans match {
      case Seq() => keys.select(LakeTable.KeyCol).limit(0)
      case ss =>
        // one semi-join over the unioned surviving buckets (the key set
        // broadcasts when small), then distinct: the same key may exist
        // in several partitions
        ss.reduce(_.union(_))
          .join(targets.head._2.broadcastIfSmall(ks), Seq(LakeTable.KeyCol), "left_semi")
          .distinct()
    }
  }

  /** [[probeKeys]]'s row-returning sibling (see
    * [[LakeTable.rowsForKeys]]): full stored rows for the key set, the
    * partition value re-attached — so a read-modify-write caller (SQL
    * MERGE partial UPDATE) sees exactly what a snapshot read would, and
    * delete routing can take the TARGET row's partition value. Shares
    * [[probeKeys]]'s single candidate job, routing, and pinning.
    */
  def rowsForKeys(
      keys: DataFrame,
      inPartitions: Option[Seq[String]] = None,
      atVersions: Option[Map[String, Long]] = None): DataFrame = {
    val targets = probeTargets(inPartitions, atVersions)
    val all = targets.map(_._1)
    val ks = if (targets.isEmpty) keys.select(LakeTable.KeyCol).distinct()
      else materializedKeys(keys)
    val byPart =
      if (targets.isEmpty) Map.empty[String, Set[Int]]
      else candidateBuckets(ks, targets)
    val parts = targets.flatMap { case (v, t, m) =>
      byPart.get(v).map(bs => v -> t.readBuckets(m, bs))
    }
    val assembled = assemble(parts, all, atVersions)
    if (parts.isEmpty) assembled // schema-stable empty
    else assembled.join(
      targets.head._2.broadcastIfSmall(ks), Seq(LakeTable.KeyCol), "left_semi")
  }

  /** Existing partition identities (committed only): a depth-k walk of
    * the nested `p=` levels — one listing per interior dir, the same
    * driver cost profile as the flat layout at equal leaf count.
    */
  def partitions: Seq[String] = {
    def walk(prefix: String, depth: Int): Seq[Seq[String]] = {
      val dir = if (prefix.isEmpty) io.resolve() else io.resolve(prefix)
      io.list(dir).filter(_.startsWith(PartPrefix)).flatMap { d =>
        val v = decode(d.stripPrefix(PartPrefix))
        if (depth == 1) Seq(Seq(v))
        else walk(if (prefix.isEmpty) d else s"$prefix/$d", depth - 1).map(v +: _)
      }
    }
    walk("", partitionCols.size)
      .map(_.mkString("/"))
      .filter(v => new LakeTable(spark, partDir(v), numBuckets).latestVersion.isDefined)
      .sorted
  }

  /** Upsert rows (must contain `_key`, `_ts`, and the partition column)
    * into their partitions. Null partition values are rejected — route
    * them explicitly upstream.
    */
  def upsert(updates: DataFrame, commitId: String = ""): Unit =
    writePartitions(updates, commitId, dedupe = true)(
      (lt, part, cid, hint) => lt.upsert(part, cid, hint))

  /** Bulk/initial-load fast path per partition — see
    * [[LakeTable.bulkInsert]] for the caller contract (keys must be new).
    */
  def bulkInsert(updates: DataFrame, commitId: String = ""): Unit =
    writePartitions(updates, commitId, dedupe = false)(
      (lt, part, cid, hint) => lt.bulkInsert(part, cid, "partition", hint))

  /** The one driver-side check of routed partition identities: a null
    * identity (any null component) or a composite component embedding
    * '/' (the joined identity would be ambiguous) fails loudly. Returns
    * the identities, sorted.
    */
  private def checked(ids: Iterable[Option[String]], what: String): Seq[String] =
    ids.toSeq.map { id =>
      require(id.isDefined,
        s"null ${partitionCols.mkString(",")} in $what — partition values must be non-null")
      val v = id.get
      require(splitsWhole(v),
        s"partition value '$v' for (${partitionCols.mkString(",")}) in $what has a " +
          "component containing '/' — composite partition components cannot embed the " +
          "path separator")
      v
    }.sorted

  /** True iff joined identity `v` splits back into exactly its components. */
  private def splitsWhole(v: String): Boolean =
    partitionCols.size == 1 || v.split("/", -1).length == partitionCols.size

  /** The distinct partition identities of `df`, in one exchange-free job. */
  private def identities(df: DataFrame): Iterable[Option[String]] =
    LakeTable.bucketsByGroup(df.select(identityCol(df), lit(0)), 1).keys

  /** Distinct partition identities of `df`, checked. The CDC sink
    * collects them once per batch for its replay probe.
    */
  def partitionValues(df: DataFrame, what: String = "batch"): Seq[String] =
    checked(identities(df), what)

  /** Distinct partition identities of `df`, sorted, or None when any row
    * is unroutable: a null component, or a composite component embedding
    * '/'. Such a partition cannot exist (writes reject it), but its key
    * may exist elsewhere, so a caller that can fall back to a global
    * probe takes None rather than a failure.
    */
  def routableValues(df: DataFrame): Option[Seq[String]] = {
    val ids = identities(df)
    if (ids.forall(_.exists(splitsWhole))) Some(ids.flatten.toSeq.sorted) else None
  }

  /** Rows of `df` belonging to partition identity `v`. */
  private def partFilter(df: DataFrame, v: String): Column =
    partitionCols.zip(splitVals(v))
      .map { case (c, x) => df(c).cast("string") === x }
      .reduce(_ && _)

  private def dropPartCols(df: DataFrame): DataFrame =
    partitionCols.foldLeft(df)(_.drop(_))

  private def requirePartCols(df: DataFrame, what: String): Unit =
    partitionCols.foreach(c => require(df.columns.contains(c),
      s"$what must contain partition column '$c'"))

  /** Per-row partition identity expression: null when ANY component is
    * null (`concat_ws` would silently SKIP nulls and alias a different
    * partition), else the slash-joined components.
    */
  private def identityCol(df: DataFrame): Column = {
    val casts = partitionCols.map(c => df(c).cast("string"))
    if (casts.size == 1) casts.head
    else when(casts.map(_.isNull).reduce(_ || _), lit(null))
      .otherwise(concat_ws("/", casts: _*))
  }

  /** The one partition-dispatch skeleton every write path shares:
    * independent per-partition work runs from a bounded driver pool (same
    * pattern as CdcSyncCommand's per-table loop) so partition count, not
    * partition order, drives wall clock; commit ids are scoped
    * `$commitId:p=$v` so a replayed batch skips exactly the partitions
    * that already committed.
    */
  private def dispatchPartitions(
      values: Seq[String], commitId: String, clearTombstones: Boolean = true)(
      run: (LakeTable, String, String) => Unit): Unit = {
    if (values.isEmpty) return
    // The pool scales with the cluster (a quarter of the default
    // parallelism, floor 4): per-partition commits are mostly driver/FS
    // latency between small stage jobs, so deeper overlap back-fills
    // executors without oversubscribing the scheduler; still bounded by
    // the touched-partition count.
    val poolSize = (spark.sparkContext.defaultParallelism / 4).max(4)
      .min(values.length).max(1)
    graft.util.DriverPool.runAll(poolSize, values.map { v =>
      () => run(partitionTable(v), v, scoped(commitId, s"p=$v"))
    })
    if (clearTombstones) clearRebornTombstones(values)
  }

  /** Where a batch's rows go: partition identity (None for a null
    * identity) → key buckets. Update rows' buckets lie in
    * [0, numBuckets); routed delete keys' are offset by numBuckets, so
    * one collect routes and tells apart both sides.
    */
  private type Routes = Map[Option[String], Set[Int]]

  /** A routed delete key's partition identity column. */
  private val RouteCol = "_p"

  private def collectRoutes(ups: Option[DataFrame], dels: Option[DataFrame]): Routes = {
    def bucket = LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)
    val sides = ups.map(u => u.select(identityCol(u), bucket)).toSeq ++
      dels.map(_.select(col(RouteCol), bucket + numBuckets))
    LakeTable.bucketsByGroup(sides.reduce(_.union(_)), 2 * numBuckets)
  }

  /** The checked identities the update rows route to. */
  private def updateTargets(r: Routes): Seq[String] =
    checked(r.collect { case (v, bs) if bs.exists(_ < numBuckets) => v }, "updates")

  /** The named identities the routed delete keys route to. */
  private def deleteTargets(r: Routes): Seq[String] =
    r.collect { case (Some(v), bs) if bs.exists(_ >= numBuckets) => v }.toSeq

  private def hasGlobalDeletes(r: Routes): Boolean =
    r.get(None).exists(_.exists(_ >= numBuckets))

  /** `df` with an in-plan assertion that every row carries partition
    * identity `v`, folded into the `_ts` column every commit keeps. A
    * projection, never a filter: the optimizer may push a filter below
    * the caller's own joins and filters, onto rows that plan drops.
    */
  private def asserted(df: DataFrame, v: String): DataFrame = {
    require(df.columns.contains(LakeTable.TsCol),
      s"incoming data must contain a '${LakeTable.TsCol}' column")
    df.withColumn(LakeTable.TsCol,
      when(identityCol(df) === v, df(LakeTable.TsCol)).otherwise(raise_error(lit(
        s"a row routed to partition '$v' of $basePath carries another partition " +
          "value when written — partition values must be deterministic"))))
  }

  private def deleteSlice(dels: DataFrame, v: String): DataFrame =
    dels.filter(col(RouteCol) === v).select(LakeTable.KeyCol)

  /** A staged frame: clustered on (partition columns `by`, key bucket) so
    * each partition's filtered scan prunes to its own cached blocks. The
    * bucket term salts the layout so a batch touching FEW partitions
    * still spreads over the cluster (clustering by the partition columns
    * alone collapsed a 2-leaf CDC batch into 2 fat blocks); sized to
    * defaultParallelism, never a constant (the initial-load fast path
    * separately sizes to max(defaultParallelism, fresh partitions)).
    */
  private def stagedBatch(df: DataFrame, by: Seq[String]): DataFrame =
    df.repartition(
      spark.sparkContext.defaultParallelism,
      (by.map(col) :+ LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)): _*)

  /** A routed batch as its dispatch reads it: the routes, the partitions
    * to dispatch, partition v's update rows (partition columns dropped)
    * and delete keys, the null-identity delete keys for the global path,
    * and a multi-target batch's staged updates.
    */
  private final class Routed(
      val routes: Routes,
      val targets: Seq[String],
      val ups: String => DataFrame,
      val dels: String => DataFrame,
      val globalDels: Option[DataFrame],
      val staged: Option[DataFrame])

  /** The one staging step of every routed write: upsert and bulkInsert
    * (updates only), merge (updates and delete keys) and routed deletes
    * (delete keys only). `targetsOf` picks the partitions to dispatch
    * from a routing.
    *
    * A batch with updates first routes its RAW frames in one
    * exchange-free pre-pass. If it has at most one target and no global
    * deletes, it skips the staging exchange: its slices persist lazily
    * (one consumer, no cold-block race), because a commit plan references
    * its source more than once (merge's update branch and in-batch
    * semi-join, the delete prune and anti-join, a zorder commit's lane
    * normalization, a publish-race retry) and an unstaged source would
    * re-run in full per reference. That commit re-evaluates the raw
    * frame, so the update slice asserts in-plan that every row still
    * carries the routed identity: a non-deterministic partition value
    * fails the commit instead of vanishing.
    *
    * Otherwise the frames are persisted once, and ONE job materializes
    * the caches and routes from them. Materializing before the concurrent
    * per-partition consumers start keeps them from racing on cold blocks
    * (each racer re-runs the staging stages); routing from the caches
    * makes dispatch follow the rows the commits read, never a separate
    * evaluation of the batch. A batch with updates is staged first, so
    * each partition's scans prune to its own cached blocks; a delete-only
    * batch is a narrow key projection and persists unshuffled, so its one
    * job runs no exchange. Batch-sized by contract; every cache is
    * dropped before returning.
    */
  private def routed(ups: Option[DataFrame], dels: Option[DataFrame])(
      targetsOf: Routes => Seq[String])(run: Routed => Unit): Unit = {
    val raw = ups.map(_ => collectRoutes(ups, dels))
    ups.foreach(u => writeMetaIfAbsent(partitionCols.map(c => u.schema(c).dataType)))
    raw.filter(r => targetsOf(r).size <= 1 && !hasGlobalDeletes(r)) match {
      case Some(r) =>
        val one = targetsOf(r)
        val upSlices = for (u <- ups.toSeq; v <- one) yield dropPartCols(asserted(u, v)).persist()
        val delSlices = for (d <- dels.toSeq; v <- one) yield deleteSlice(d, v).persist()
        try run(new Routed(r, one, _ => upSlices.head, _ => delSlices.head, None, None))
        finally (upSlices ++ delSlices).foreach(_.unpersist(blocking = false))
      case None =>
        val staged = Seq(ups -> partitionCols, dels -> Seq(RouteCol)).map { case (df, by) =>
          df.map(d => (if (ups.isEmpty) d else stagedBatch(d, by)).persist())
        }
        val Seq(cachedUps, cachedDels) = staged
        try {
          val routes = collectRoutes(cachedUps, cachedDels)
          run(new Routed(routes, targetsOf(routes),
            v => dropPartCols(cachedUps.get.filter(partFilter(cachedUps.get, v))),
            v => deleteSlice(cachedDels.get, v),
            cachedDels.filter(_ => hasGlobalDeletes(routes))
              .map(_.filter(col(RouteCol).isNull).select(LakeTable.KeyCol)),
            cachedUps))
        } finally staged.flatten.foreach(_.unpersist(blocking = false))
    }
  }

  private def writePartitions(
      updates: DataFrame, commitId: String, dedupe: Boolean)(
      write: (LakeTable, DataFrame, String, Option[Set[Int]]) => Unit): Unit = {
    requirePartCols(updates, "updates")
    routed(Some(updates), None)(updateTargets) { b =>
      // A staged batch's partitions with no committed state take the
      // one-job initial load; the rest commit one pipeline each, whose
      // files elide the partition columns (constant within the dir,
      // re-attached on read).
      val adopted =
        b.staged.fold(Set.empty[String])(initialLoadFastPath(_, b.targets, commitId, dedupe))
      dispatchPartitions(b.targets.filterNot(adopted), commitId) { (lt, v, cid) =>
        write(lt, b.ups(v), cid, b.routes.get(Some(v)))
      }
      if (adopted.nonEmpty) clearRebornTombstones(adopted.toSeq)
    }
  }

  /** ONE-job initial load for the FRESH partitions of a batch: the
    * slice of `cached` belonging to never-written partitions is LWW-
    * deduped per (partition, key) by the per-partition commit's own
    * collapse ([[LakeTable.overwriteCollapse]]), written once partitioned by
    * (leaf identity, bucket), and adopted per partition as a driver-side
    * move + v1 manifest publish ([[LakeTable.adoptInitialLoad]]).
    * Partitions whose adoption loses a race (or that already hold data)
    * fall back to the normal per-partition dispatch. Applies only when
    * the handle has no per-commit sidecar work (no blooms, stats, or
    * Z-order) and overwrite merge mode; otherwise every partition keeps
    * the slow path. Returns the adopted partition identities.
    */
  private def initialLoadFastPath(
      cached: DataFrame,
      values: Seq[String],
      commitId: String,
      dedupe: Boolean): Set[String] = {
    // also slow-path on object-store schemes (adoption
    // is a plain FileSystem rename — LakeIO's owner-token protocol never
    // renames, and on s3a/gs a directory rename is a non-atomic
    // copy+delete) and on filesPerBucket > 1 (the one-job load writes one
    // file per bucket, losing the key-salted intra-bucket layout).
    if (zorderBy.nonEmpty || statsColumns.nonEmpty || bloomOnWrite ||
        filesPerBucket > 1 || io.objectStoreMode ||
        mergeMode != LakeTable.OverwriteMode) return Set.empty
    val fresh = values.filter(v => partitionTable(v).latestVersion.isEmpty)
    if (fresh.size < 2) return Set.empty // one commit: nothing to batch
    val payloadCols = cached.columns.filterNot(partitionCols.contains).toSeq
    // same reserved-name guard as writeCommit — loud, never silent drift
    Seq(LakeTable.OpCol, LakeTable.DvCol, LakeTable.PtsCol, LakeTable.BucketCol)
      .foreach(c => require(!payloadCols.contains(c),
        s"'$c' is a reserved lake meta column — rename the payload column"))
    require(payloadCols.contains(LakeTable.KeyCol),
      s"incoming data must contain a '${LakeTable.KeyCol}' column")
    require(payloadCols.contains(LakeTable.TsCol),
      s"incoming data must contain a '${LakeTable.TsCol}' column")
    val slice0 = cached.filter(identityCol(cached).isin(fresh: _*))
    // LWW within the batch, per (partition, key): exactly what each
    // partition's commit fold picks against its EMPTY snapshot, which
    // tags every row as incoming and hashes the payload columns in this
    // (dropPartCols) order.
    val slice =
      if (!dedupe) slice0
      else LakeTable.overwriteCollapse(slice0, partitionCols.map(col), lit(1L), payloadCols)
    val leaf = "__graft_leaf"
    val bucketCol = LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)
    val tmpRel = s"_graft_initload_${java.util.UUID.randomUUID().toString.take(8)}"
    val tmpPath = io.resolve(tmpRel)
    val n = spark.sparkContext.defaultParallelism.max(fresh.size)
    // exactly one task per (leaf, bucket) group (hash collisions only
    // merge groups into one task — partitionBy still splits the files)
    slice
      .withColumn(leaf, identityCol(slice))
      .withColumn(LakeTable.BucketCol, bucketCol)
      .select((col(leaf) +: col(LakeTable.BucketCol) +: payloadCols.map(col)): _*)
      .repartition(n, col(leaf), col(LakeTable.BucketCol))
      .write.partitionBy(leaf, LakeTable.BucketCol)
      .mode("errorifexists").parquet(tmpPath.toString)
    val schema = org.apache.spark.sql.types.StructType(
      payloadCols.map(c => slice.schema(c)))
    try {
      val adopted = Set.newBuilder[String]
      val freshSet = fresh.toSet
      io.list(tmpPath).filter(_.startsWith(leaf + "=")).foreach { d =>
        val v = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(d.stripPrefix(leaf + "="))
        if (freshSet.contains(v)) {
          val ok = partitionTable(v).adoptInitialLoad(
            new HPath(tmpPath, d), schema, scoped(commitId, s"p=$v"))
          if (ok) adopted += v
        }
      }
      adopted.result()
    } finally io.deleteRecursive(tmpPath)
  }

  /** Partition-routed combined upsert+delete — ONE commit per touched
    * partition per batch (see [[LakeTable.merge]]). `deleteKeys` carries
    * the partition column (CDC delete envelopes include the deleted
    * row's payload): a partition named by updates and/or routed deletes
    * gets one [[LakeTable.merge]] commit, hinted with its update ∪ delete
    * buckets. Deleting from a partition that was never written is a
    * no-op and dispatches nothing; a composite delete identity with an
    * embedded '/' component cannot name an existing partition, so it is
    * skipped the same way. Delete keys with a NULL partition value fall
    * back to the global bloom-pruned [[delete]] path (separate commits —
    * the rare payload-less envelope case).
    */
  def merge(updates: DataFrame, deleteKeys: DataFrame, commitId: String = ""): Unit = {
    requirePartCols(updates, "merge updates")
    requirePartCols(deleteKeys, "merge deleteKeys")
    lazy val existing = partitions.toSet
    val dels = deleteKeys.select(col(LakeTable.KeyCol), identityCol(deleteKeys).as(RouteCol))
    routed(Some(updates), Some(dels)) { r =>
      (updateTargets(r) ++ deleteTargets(r).filter(v => existing.contains(v))).distinct.sorted
    } { b =>
      dispatchPartitions(b.targets, commitId) { (lt, v, cid) =>
        lt.merge(b.ups(v), b.dels(v), cid, b.routes.get(Some(v)).map(_.map(_ % numBuckets)))
      }
      b.globalDels.foreach(delete(_, commitId = scoped(commitId, "global")))
    }
  }

  /** Delete keys from the given partitions (all partitions if None —
    * key-only deletes must visit every partition, same as Hudi's
    * global-index delete). Even on the global path, each partition's
    * [[LakeTable.delete]] bloom-prunes the key set first, so partitions
    * that provably hold none of the keys commit NO new version — the
    * "thousands of jobs per CDC batch" fan-out dispatches, but rewrites
    * nothing and grows no commit log where nothing matched.
    */
  def delete(keys: DataFrame, inPartitions: Option[Seq[String]] = None, commitId: String = ""): Unit = {
    if (keys.isEmpty) return // avoid one no-op commit check per partition
    val targets = inPartitions.getOrElse(partitions)
    // the key set is re-evaluated by EVERY partition's bloom-pruned
    // delete (separate actions) — materialize it once, and dispatch from
    // the shared bounded pool instead of sequentially (partition tables
    // are independent; a delete never rebirths a dropped partition, so
    // tombstone clearing is skipped).
    val cached = keys.persist()
    try dispatchPartitions(targets, commitId, clearTombstones = false) {
      (lt, _, cid) => lt.delete(cached, commitId = cid)
    } finally cached.unpersist(blocking = false)
  }

  /** Delete with in-band partition routing: `keys` carries the partition
    * column (CDC delete envelopes include the deleted row's payload), so
    * dispatch visits ONLY the named partitions that exist — the
    * partition-value hint that replaces the global-index fan-out
    * entirely. Rows with a null partition value (any null component) fall
    * back to the global path.
    */
  def deleteRouted(keys: DataFrame, commitId: String = ""): Unit = {
    requirePartCols(keys, "deleteRouted keys")
    lazy val existing = partitions.toSet
    val dels = keys.select(col(LakeTable.KeyCol), identityCol(keys).as(RouteCol))
    routed(None, Some(dels))(deleteTargets(_).filter(v => existing.contains(v))) { b =>
      dispatchPartitions(b.targets, commitId, clearTombstones = false) { (lt, v, cid) =>
        lt.delete(b.dels(v), commitId = cid)
      }
      b.globalDels.foreach(delete(_, commitId = scoped(commitId, "global")))
    }
  }

  /** Re-attach one partition component under its stored type, validating
    * the string→type cast DRIVER-SIDE first: a directory name that doesn't
    * round-trip (session-timezone-dependent timestamp rendering, or a
    * legacy string-partitioned dir after meta records a numeric type) would
    * otherwise cast to null silently and corrupt the partition column.
    */
  private def reattached(v: String, dt: DataType): Column = {
    val casted = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(v), StringType),
      dt,
      Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
    if (casted == null)
      throw new IllegalStateException(
        s"partition dir value '$v' at $basePath does not cast to the stored " +
          s"partition type ${dt.simpleString} — refusing a silent null partition value")
    lit(v).cast(dt)
  }

  /** All partition columns of identity `v` re-attached to `df`. */
  private def reattachAll(df: DataFrame, v: String, dts: Seq[DataType]): DataFrame = {
    val comps = splitVals(v)
    partitionCols.indices.foldLeft(df) { (d, i) =>
      d.withColumn(partitionCols(i), reattached(comps(i), dts(i)))
    }
  }

  /** Vacuum every partition's unreferenced snapshot dirs; returns the
    * total number of data dirs removed.
    */
  def vacuum(keepVersions: Int = 1): Int =
    partitions.map(partitionTable(_).vacuum(keepVersions)).sum

  /** Time-based retention per partition — see [[LakeTable.vacuumBefore]];
    * each partition keeps its own post-cutoff versions (at least its
    * latest), so a quiet partition is untouched and a hot one trims.
    */
  def vacuumBefore(cutoffMillis: Long): Int =
    partitions.map(partitionTable(_).vacuumBefore(cutoffMillis)).sum

  /** Drop whole partitions — Hudi's `delete_partition` operation: the
    * partition directories (data, manifests, blooms) are removed
    * entirely and the values disappear from [[partitions]] and every
    * read. Values with no committed partition are ignored, so a replayed
    * drop is a natural no-op. This is the retention story for
    * time/value-partitioned corpora: expire `day=2023-*` by dropping the
    * partitions instead of rewriting row-level deletes through them.
    * Returns how many existing partitions were dropped. NOT versioned:
    * unlike row deletes, a dropped partition is gone from history too
    * (its time-travel reads fail loudly like any vacuumed state).
    */
  def dropPartitions(values: Seq[String]): Int = {
    val existing = partitions.toSet
    val doomed = values.distinct.filter(existing.contains)
    doomed.foreach(v => io.deleteRecursive(io.resolve(
      splitVals(v).map(c => PartPrefix + encode(c)).mkString("/"))))
    // Evict cached handles: a REBORN partition restarts its version
    // numbering at 1, so a stale handle's per-version caches (commit
    // times, stats sidecars) would answer for version numbers the
    // rebirth reuses.
    doomed.foreach(handleCache.remove)
    // Tombstone the drop (same loud-failure contract as vacuumed
    // history): an incremental/stream reader whose version vector still
    // names a dropped partition must fail, not silently lose its tail —
    // without the marker the partition just stops being listed.
    if (doomed.nonEmpty) writeDropped(droppedPartitions ++ doomed)
    doomed.size
  }

  /** Values dropped by [[dropPartitions]] and not since reborn by a new
    * write. Readers holding an incremental position on one fail loudly
    * ([[incrementalBetweenVec]]/[[nextVersions]]). A REBORN partition
    * (dropped, then written again) clears its tombstone: it is a fresh
    * table with a fresh version counter, and a pre-drop position into it
    * fails through the normal unknown-version check instead.
    */
  def droppedPartitions: Set[String] =
    if (!io.exists(droppedFile)) Set.empty
    else {
      val node = new ObjectMapper().readTree(io.readString(droppedFile)).get("dropped")
      (0 until node.size()).map(node.get(_).asText()).toSet
    }

  private def writeDropped(values: Set[String]): Unit = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val arr = root.putArray("dropped")
    values.toSeq.sorted.foreach(arr.add)
    io.replace(droppedFile, mapper.writeValueAsString(root))
  }

  /** Clear tombstones for partitions a successful write just recreated. */
  private def clearRebornTombstones(written: Seq[String]): Unit = {
    val dropped = droppedPartitions
    val reborn = written.toSet & dropped
    if (reborn.nonEmpty) writeDropped(dropped -- reborn)
  }

  /** Additive column evolution across every committed partition — see
    * [[LakeTable.addColumns]]. Partitions born later inherit the
    * columns from the writes that create them.
    */
  def addColumns(cols: org.apache.spark.sql.types.StructType, commitId: String = ""): Unit =
    partitions.foreach { v =>
      partitionTable(v).addColumns(cols, scoped(commitId, s"p=$v"))
    }

  /** Manifest-only type widening across every committed partition — see
    * [[LakeTable.widenColumn]]. The partition column itself cannot
    * change type (its values are directory names under the recorded
    * type).
    */
  def widenColumn(name: String, to: DataType, commitId: String = ""): Unit = {
    require(!partitionCols.contains(name),
      s"cannot change the partition column '$name' — its values are " +
        "directory names under the recorded partition type")
    partitions.foreach { v =>
      partitionTable(v).widenColumn(name, to, scoped(commitId, s"p=$v"))
    }
  }

  /** Manifest-only column rename across every committed partition — see
    * [[LakeTable.renameColumn]]. Partition columns themselves
    * cannot rename (their values are directory names; the layout is
    * keyed by the declared names).
    */
  def renameColumn(from: String, to: String, commitId: String = ""): Unit = {
    require(!partitionCols.exists(c => c.equalsIgnoreCase(from) || c.equalsIgnoreCase(to)),
      s"cannot rename the partition column '$from'/'$to' — the layout is " +
        "keyed by the declared partition column names")
    // A declared-but-never-written table has no committed
    // schema — a silent no-op would report success and record nothing
    require(partitions.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    partitions.foreach { v =>
      partitionTable(v).renameColumn(from, to, scoped(commitId, s"p=$v"))
    }
  }

  /** Manifest-only column drop across every committed partition — see
    * [[LakeTable.dropColumn]]. Partition columns cannot drop.
    */
  def dropColumn(name: String, commitId: String = ""): Unit = {
    require(!partitionCols.exists(_.equalsIgnoreCase(name)),
      s"cannot drop the partition column '$name' — its values are the " +
        "directory layout")
    require(partitions.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    partitions.foreach { v =>
      partitionTable(v).dropColumn(name, scoped(commitId, s"p=$v"))
    }
  }

  /** Compact every partition's bucket file groups (commitId scoped per
    * partition, so a replayed compaction skips exactly the partitions
    * that already ran).
    */
  def compact(commitId: String = ""): Unit =
    partitions.foreach { v =>
      partitionTable(v).compact(scoped(commitId, s"p=$v"))
    }

  /** Full-table read (union of partitions, partition value re-attached). */
  def snapshot: DataFrame = { val ps = partitions; read(ps, ps) }

  /** Read-optimized view across every partition — see
    * [[LakeTable.snapshotReadOptimized]] (base file groups only; COW
    * scan cost, bounded staleness on delta-carrying buckets).
    */
  def snapshotReadOptimized: DataFrame = {
    val ps = partitions
    assemble(ps.map(v => v -> partitionTable(v).snapshotReadOptimized), ps, None)
  }

  /** Partition-pruned read: only the named partitions' files are opened. */
  def snapshot(values: Seq[String]): DataFrame = {
    val ps = partitions
    read(values.filter(ps.contains), ps)
  }

  /** Version-pinned full read: each partition of the vector at the version
    * the caller holds (a [[currentVersions]] snapshot). Partitions born
    * after the vector was taken are not read — the vector IS the table
    * state being addressed. The consistent-read primitive for
    * `LakeSnapshotRelation`: every route of one relation resolves the
    * same vector, so a concurrent writer can never make two scans of the
    * same relation disagree.
    */
  def snapshotAt(versions: Map[String, Long]): DataFrame = {
    val ps = versions.keys.toSeq.sorted
    readAt(ps, ps, versions)
  }

  /** Version-pinned pruned read: only the named partitions, at the pinned
    * versions. No directory listing at all — the vector is the authority.
    */
  def snapshotAt(values: Seq[String], versions: Map[String, Long]): DataFrame =
    readAt(values.distinct.filter(versions.contains), versions.keys.toSeq.sorted, versions)

  /** Stats-pruned version-pinned read (tables written with
    * `statsColumns`): each partition contributes its bucket-pruned frame
    * when column stats can skip buckets there, else its full pinned
    * snapshot — so manifest stats COMPOSE with partition-dir pruning
    * (each partition keeps its own manifests and sidecars). None when no
    * partition pruned anything — callers keep their cached full plan.
    * `values` restricts to named partitions (the pruned route).
    */
  private[graft] def statsPruneAt(
      versions: Map[String, Long],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      values: Option[Seq[String]] = None): Option[DataFrame] = {
    if (filters.isEmpty) return None
    val ps = values.map(_.distinct.filter(versions.contains))
      .getOrElse(versions.keys.toSeq.sorted)
    var any = false
    val parts = ps.map { v =>
      val t = partitionTable(v)
      t.statsPrune(versions(v), filters) match {
        case Some(df) => any = true; v -> df
        case None => v -> t.snapshotAt(versions(v))
      }
    }
    if (!any) None
    else Some(assemble(parts, versions.keys.toSeq.sorted, Some(versions)))
  }

  private def read(values: Seq[String], all: Seq[String]): DataFrame =
    assemble(values.map(v => v -> partitionTable(v).snapshot), all, None)

  private def readAt(
      values: Seq[String], all: Seq[String], versions: Map[String, Long]): DataFrame =
    assemble(
      values.map(v => v -> partitionTable(v).snapshotAt(versions(v))), all, Some(versions))

  private def assemble(
      parts: Seq[(String, DataFrame)],
      all: Seq[String],
      versions: Option[Map[String, Long]]): DataFrame = {
    val dts = partitionTypes
    parts.map { case (v, df) => reattachAll(df, v, dts) } match {
      case Seq() => emptyFrame(all, versions)
      case head +: tail =>
        tail.foldLeft(head)(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Empty result with the TABLE's schema: `spark
    * .emptyDataFrame` is ZERO-column, and batch consumers that
    * select/union a no-partitions-matched read or a nothing-changed
    * incremental fail on the missing columns. Cost: manifest reads only
    * (the union plan is lazy and carries no rows) against the LISTING THE
    * CALLER ALREADY HOLDS — no re-listing; a never-written
    * table has no schema to offer and keeps the zero-column frame.
    */
  private def emptyFrame(
      all: Seq[String], versions: Option[Map[String, Long]]): DataFrame =
    if (all.isEmpty) spark.emptyDataFrame
    else versions match {
      case Some(vec) => readAt(all, all, vec).limit(0)
      case None => read(all, all).limit(0)
    }

  /** The VERSION VECTOR a consumer holds to read this table
    * incrementally: each partition's latest committed version. Partitions
    * are independent tables with independent version counters, so a
    * single scalar "since version" cannot address a partitioned table.
    */
  def currentVersions: Map[String, Long] =
    partitions.flatMap(v => partitionTable(v).latestVersion.map(v -> _)).toMap

  /** Per-partition version vector as of `tsMillis` (the timestamp
    * equivalent of [[currentVersions]]): each partition resolves
    * independently via [[LakeTable.versionAt]]; partitions with no
    * commit at-or-before the timestamp are absent — they did not exist
    * yet at that point in time.
    */
  def versionsAt(tsMillis: Long): Map[String, Long] =
    partitions.flatMap(p => partitionTable(p).versionAt(tsMillis).map(p -> _)).toMap

  /** Rows changed since `sinceVersions` (a vector from
    * [[currentVersions]]): per partition,
    * [[LakeTable.incrementalBetween]] from the vector's entry (0 — i.e.
    * the full partition — for partitions born after the vector was taken)
    * to that partition's current latest. Unchanged partitions contribute
    * nothing and cost two manifest reads, no data I/O; dropped (vacuumed)
    * history fails loudly like the unpartitioned path.
    */
  def incrementalSince(sinceVersions: Map[String, Long]): DataFrame =
    incrementalBetweenVec(sinceVersions, currentVersions)

  /** Deterministic vector-ranged incremental — the streaming-source
    * replay primitive: reads exactly `(since(p), until(p)]` for each
    * partition in `until`, never consulting current state, so a replayed
    * micro-batch yields the same rows as the original run.
    */
  def incrementalBetweenVec(
      sinceVersions: Map[String, Long],
      untilVersions: Map[String, Long]): DataFrame = {
    requireNotDropped(sinceVersions.keySet ++ untilVersions.keySet)
    val dts = partitionTypes
    val parts = untilVersions.toSeq.sortBy(_._1).flatMap { case (v, until) =>
      val since = sinceVersions.getOrElse(v, 0L)
      if (since == until) None // unchanged partition: no scan at all
      else Some(reattachAll(
        partitionTable(v).incrementalBetween(since, until), v, dts))
    }
    parts match {
      // Schema-stable empty, not zero-column; schema from the vector's
      // own partitions when it has any (no directory listing on the idle
      // nothing-changed poll — the streaming source's common case).
      case Seq() =>
        if (untilVersions.nonEmpty) emptyFrame(untilVersions.keys.toSeq.sorted, Some(untilVersions))
        else emptyFrame(partitions, None)
      case head +: tail =>
        tail.foldLeft(head)(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** The streaming consumer's next version vector: per partition, the
    * highest of the first `mx` committed versions STILL IN THE LOG past
    * the consumer's position `prev` (vacuumed early history is skipped,
    * never addressed — an arithmetic `prev + mx` could name a vacuumed
    * manifest and wedge the stream), or the position itself when the
    * partition is caught up. `upTo` is an AvailableNow drain target
    * frozen earlier: each partition is bounded by the largest IN-LOG
    * version at or under its target (a target vacuumed mid-drain clamps
    * down, never to a tombstone), and partitions absent from the target
    * (born after the freeze) hold their `prev` position — or stay out of
    * the vector entirely — until the next run. One log listing per
    * partition — the same cost as [[currentVersions]].
    */
  private def requireNotDropped(positioned: Set[String]): Unit = {
    val lost = positioned & droppedPartitions
    if (lost.nonEmpty)
      throw new IllegalStateException(
        s"partitions ${lost.toSeq.sorted.mkString(", ")} at $basePath were " +
          "dropped by dropPartitions — incremental history destroyed; " +
          "restart the consumer from a fresh position")
  }

  def nextVersions(
      prev: Map[String, Long],
      mx: Option[Long],
      upTo: Option[Map[String, Long]]): Map[String, Long] = {
    requireNotDropped(prev.keySet)
    partitions.flatMap { v =>
      upTo match {
        case Some(target) if !target.contains(v) =>
          prev.get(v).map(v -> _) // frozen out: hold position (defensive)
        case _ =>
          val p = prev.getOrElse(v, 0L)
          Some(v -> partitionTable(v)
            .nextVersion(p, mx, upTo.map(_(v))).getOrElse(p))
      }
    }.toMap.filter(_._2 > 0L)
  }

  /** True iff `commitId` was already applied to ANY partition (the
    * per-partition scoped id `$commitId:p=<v>` is logged) — the replay /
    * migration probe mirroring [[LakeTable.isCommitted]].
    */
  def isCommitted(commitId: String): Boolean =
    isCommitted(commitId, partitions)

  /** Bounded probe: `commitId` committed in any of the partitions named by
    * `among`. The hot-path variant — CDC's per-batch migration probe runs
    * before EVERY merge, and a scoped commit can only live in a partition
    * whose value the committing batch carried, so a deterministic replay
    * need only probe its own partition values instead of paying a full
    * commit-history scan per partition across the whole table. Unknown
    * values are cheap no-ops (a missing partition dir lists empty), so no
    * existence pre-filter — and no extra full-partition listing — is
    * needed.
    */
  def isCommitted(commitId: String, among: Seq[String]): Boolean =
    commitId.nonEmpty &&
      among.filter(_ != null).distinct
        .exists(v => partitionTable(v).isCommitted(scoped(commitId, s"p=$v")))
}

object PartitionedLakeTable {
  /** Open an EXISTING partitioned table by its stored `_table.json`
    * metadata (partition column name is in-band) — None when the path is
    * not a partitioned lake table. How [[graft.sources
    * .LakeIncrementalSource]] decides which layout it is reading.
    */
  def open(
      spark: SparkSession,
      basePath: String,
      numBuckets: Int = LakeTable.DefaultNumBuckets): Option[PartitionedLakeTable] = {
    val io = new LakeIO(basePath, spark.sparkContext.hadoopConfiguration)
    val meta = io.resolve("_table.json")
    if (!io.exists(meta)) None
    else {
      val col = new ObjectMapper().readTree(io.readString(meta))
        .get("partitionCol").asText()
      Some(new PartitionedLakeTable(spark, basePath, col, numBuckets))
    }
  }
}
