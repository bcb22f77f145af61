package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** Business-partitioned lake table: one bucketed [[LakeTable]] per value of
  * a partition column (`basePath/p=<value>/...`), the Hudi partition-path
  * layout over our COW core. `partitionCol` may be a COMMA-SEPARATED list
  * (r20 — Hudi ComplexKeyGenerator partition-path parity,
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
  *    over a bounded distinct-collect, same as the CDC table loop);
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
    val statsColumns: Seq[String] = Nil) {

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
    * (which may legitimately contain `/` — pre-r20 contract); composite
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
      // not write new dirs under a different nesting (r20 — the same
      // validated-never-trusted contract LakeHandles.fromOptions applies;
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
    // legacy single-column field kept for pre-r20 readers of the file
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

  /** One cached handle per partition value: `LakeTable` caches immutable
    * per-version metadata on the handle (commit times, stats sidecars) —
    * a fresh handle per call would re-read those small files from
    * storage on every filtered scan / timestamp resolution, multiplied
    * by partition count (the r13 review's planning-latency finding).
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
    * Same purpose as [[LakeTable.isPartialTable]] (r16). Mixed state
    * (e.g. `latchPartial` applied to only some partitions) fails LOUDLY
    * instead of routing writes with an arbitrary first partition's mode
    * (ADVICE r16): the probe reads one tiny manifest per partition.
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
    * committed state; ADVICE r17), else the committed listing at latest;
    * optionally restricted to in-band named values (`inPartitions` — the
    * [[deleteRouted]] routing contract, r18). Unknown named values are
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

  /** The distinct probe key set, MATERIALIZED once (r18, measured with
    * MergeScaleProbe/JobProbe): every per-partition branch filters the
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

  /** Candidate (partition, bucket) pairs for a key set, resolved in ONE
    * driver job across every probed partition (ADVICE r17: the
    * per-partition probes each ran their own eager candidate collect —
    * O(partitions) sequential driver round-trips per SQL MERGE). Each
    * partition's key set is bloom-pruned against ITS sidecars first, so
    * partitions provably holding none of the keys contribute nothing;
    * the collected result is tiny (≤ partitions × numBuckets ints).
    */
  private def candidateBuckets(
      ks: DataFrame,
      targets: Seq[(String, LakeTable, LakeTable.Manifest)]): Map[String, Set[Int]] =
    targets.map { case (v, t, m) =>
      t.bloomPrune(ks, m)
        .select(lit(v).as("_p"), t.bucketOf(col(LakeTable.KeyCol)).as("_b"))
    }.reduce(_.union(_)).distinct().collect()
      .groupBy(_.getString(0))
      .map { case (p, rows) => p -> rows.map(_.getInt(1)).toSet }

  /** Exact key-membership probe (r17, for SQL MERGE's branch split on
    * partitioned targets; batched + routable + pinnable r18). `_key`
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

  /** Distinct partition identities of `df`, with the null guard every
    * dispatch path shares (and, on composite layouts, the no-`/`
    * component guard that keeps the joined identity unambiguous).
    */
  private def partitionValues(df: DataFrame, what: String): Seq[String] =
    df.select(partitionCols.map(c => col(c).cast("string")): _*)
      .distinct().collect().toSeq.map { r =>
        partitionCols.indices.map { i =>
          val x = r.getString(i)
          require(x != null,
            s"null ${partitionCols(i)} in $what — partition values must be non-null")
          require(partitionCols.size == 1 || !x.contains("/"),
            s"partition value '$x' for ${partitionCols(i)} in $what contains " +
              "'/' — composite partition components cannot embed the path separator")
          x
        }.mkString("/")
      }

  /** Public per-batch distinct-collect (CDC pre-collects ONCE to feed
    * both the migration probe and [[mergeWith]] — r9 review).
    */
  def distinctPartitionValues(df: DataFrame, what: String = "batch"): Seq[String] =
    partitionValues(df, what)

  /** Rows of `df` belonging to partition identity `v`. */
  private def partFilter(df: DataFrame, v: String): org.apache.spark.sql.Column =
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
  private def identityCol(df: DataFrame): org.apache.spark.sql.Column = {
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
    // r21: pool size scales with the cluster (a quarter of the default
    // parallelism, floor 4) instead of a flat 4 — per-partition commits
    // are mostly driver/FS latency between small stage jobs, so deeper
    // overlap back-fills executors (guide §2.6) without oversubscribing
    // the scheduler; still bounded by the touched-partition count.
    val poolSize = (spark.sparkContext.defaultParallelism / 4).max(4)
      .min(values.length).max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(poolSize)
    try {
      val tasks = values.map { v =>
        new java.util.concurrent.Callable[Unit] {
          def call(): Unit = run(
            partitionTable(v), v,
            if (commitId.isEmpty) "" else s"$commitId:p=$v")
        }
      }.asJava
      pool.invokeAll(tasks).asScala.foreach(_.get()) // rethrow failures
    } finally pool.shutdown()
    if (clearTombstones) clearRebornTombstones(values)
  }

  /** Distinct (partition identity, bucket) pairs of `updates` in ONE job
    * (r21): the per-partition-commit `affected` distinct-collects — one
    * Spark job per partition, the dominant q113/q107 lifecycle cost —
    * collapse into a single pre-pass whose per-partition slices are
    * handed to the commits as [[LakeTable.upsert]] affected hints. Shares
    * partitionValues' null / embedded-'/' validation.
    */
  private def partitionBucketPairs(
      df: DataFrame, what: String): Map[String, Set[Int]] = {
    val bucketCol = LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)
    val sel = df.select((partitionCols.map(c => col(c).cast("string")) :+
      bucketCol.as("_graft_b")): _*)
    val k = partitionCols.size
    val nb = numBuckets
    // ONE exchange-free job (r21, the collectBuckets shape): each task
    // folds its rows into components -> BitSet; the driver merges.
    // Bounded by touched-partitions × numBuckets bits. Unsafe rows are
    // reused per task, so every component string materializes via
    // toString before the row advances.
    val perTask = sel.queryExecution.toRdd.mapPartitions { it =>
      val m = new java.util.HashMap[Seq[String], java.util.BitSet]()
      while (it.hasNext) {
        val r = it.next()
        val comps: Seq[String] = (0 until k).map(i =>
          if (r.isNullAt(i)) null else r.getUTF8String(i).toString)
        m.computeIfAbsent(comps, _ => new java.util.BitSet(nb)).set(r.getInt(k))
      }
      val b = Seq.newBuilder[(Seq[String], Array[Long])]
      m.forEach((ks, bs) => b += ((ks, bs.toLongArray)))
      Iterator.single(b.result())
    }.collect()
    val merged = new java.util.HashMap[Seq[String], java.util.BitSet]()
    perTask.foreach(_.foreach { case (ks, arr) =>
      merged.computeIfAbsent(ks, _ => new java.util.BitSet(nb))
        .or(java.util.BitSet.valueOf(arr))
    })
    val out = Map.newBuilder[String, Set[Int]]
    merged.forEach { (comps, bs) =>
      val v = partitionCols.indices.map { i =>
        val x = comps(i)
        require(x != null,
          s"null ${partitionCols(i)} in $what — partition values must be non-null")
        require(partitionCols.size == 1 || !x.contains("/"),
          s"partition value '$x' for ${partitionCols(i)} in $what contains " +
            "'/' — composite partition components cannot embed the path separator")
        x
      }.mkString("/")
      val ints = Set.newBuilder[Int]
      var i = bs.nextSetBit(0)
      while (i >= 0) { ints += i; i = bs.nextSetBit(i + 1) }
      out += v -> ints.result()
    }
    out.result()
  }

  /** The staged batch every partition's write consumes (r21): clustered
    * on (partition columns, key bucket) so each partition's filtered scan
    * prunes to its own cached blocks (in-memory batch stats pruning)
    * instead of every consumer re-scanning — or worse re-COMPUTING — the
    * whole source plan per partition. The bucket term salts the layout so
    * a batch touching FEW partitions still spreads over the cluster
    * (clustering by the partition columns alone collapsed a 2-leaf CDC
    * batch into 2 fat blocks — single-threaded consumers); sized to
    * defaultParallelism: scale-adaptive, never a constant (ADVICE r21:
    * the initial-load fast path separately sizes to
    * max(defaultParallelism, fresh partitions)).
    */
  private def stagedBatch(df: DataFrame): DataFrame =
    df.repartition(
      spark.sparkContext.defaultParallelism,
      (partitionCols.map(col) :+
        LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)): _*)

  private def writePartitions(
      updates: DataFrame, commitId: String, dedupe: Boolean)(
      write: (LakeTable, DataFrame, String, Option[Set[Int]]) => Unit): Unit = {
    requirePartCols(updates, "updates")
    // r21 (guide §2.4/§5): ONE pre-pass job collects partition values AND
    // every partition's affected-bucket set; a multi-partition batch is
    // then staged (repartitioned on the partition columns) and persisted
    // ONCE. Every partition's write previously re-evaluated `updates`
    // under its own filter as a SEPARATE action — AQE stage reuse never
    // crosses actions — so an unpersisted batch re-ran the full source
    // plan once per partition (q113's 15-leaf CTAS paid 15 source scans),
    // plus one affected distinct-collect job per commit. Batch-sized by
    // contract; the cache is dropped before returning.
    // r22 (VERDICT r21 #6): the pre-pass runs on the RAW batch (a narrow
    // projection) so a batch touching ONE partition skips the staging
    // exchange + persist entirely — its single commit evaluates the
    // source exactly once anyway, and the hint already carries its
    // bucket set.
    val pairs = partitionBucketPairs(updates, "updates")
    val values = pairs.keys.toSeq
    writeMetaIfAbsent(partitionCols.map(c => updates.schema(c).dataType))
    if (values.size <= 1) {
      // No staging EXCHANGE — but still persist the filtered slice
      // (lazily: one consumer, no cold-block race): a zorder commit's
      // lane-normalization collect and any publish-race retry re-evaluate
      // the incoming plan, and an unstaged source would re-run in full.
      val slices = values.map(v =>
        v -> dropPartCols(updates.filter(partFilter(updates, v))).persist())
      try dispatchPartitions(values, commitId) { (lt, v, cid) =>
        write(lt, slices.find(_._1 == v).get._2, cid, pairs.get(v))
      } finally slices.foreach(_._2.unpersist(blocking = false))
      return
    }
    val cached = stagedBatch(updates).persist()
    try {
      // Materialize the staged cache in ONE job BEFORE the concurrent
      // per-partition consumers race on cold blocks — each racer re-runs
      // the staging plan's stages (r22 probe: q113 went 7 → 16 jobs per
      // leaf when the pre-pass moved off the cache and left it lazy).
      // count() scans the cached batches without decoding rows. Inside
      // the try so a failing materialization still unpersists.
      cached.count()
      // r21 initial-load fast path: partitions with NO committed state
      // take ONE cross-partition write job + driver-side adoption
      // instead of one commit pipeline per partition — the dominant cost
      // of a partitioned CTAS / first CDC batch (and the 100 TB initial
      // load shape: one job for N partitions, not N jobs).
      val adopted = initialLoadFastPath(cached, values, commitId, dedupe)
      val rest = values.filterNot(adopted.contains)
      dispatchPartitions(rest, commitId) { (lt, v, cid) =>
        // The partition values are constant within the dir — elide the
        // columns from the stored files (re-attached on read), like any
        // partitioned table format.
        write(lt, dropPartCols(cached.filter(partFilter(cached, v))), cid,
          pairs.get(v))
      }
      if (adopted.nonEmpty) clearRebornTombstones(adopted.toSeq)
    } finally cached.unpersist(blocking = false)
  }

  /** ONE-job initial load for the FRESH partitions of a batch (r21): the
    * slice of `cached` belonging to never-written partitions is LWW-
    * deduped per (partition, key) exactly as the per-partition commit
    * would against its empty snapshot (same max_by comparator, same
    * hash-input tuple in the same column order — overwriteMerge with an
    * empty `old` and a constant seq tag), written once partitioned by
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
    // r22 (ADVICE r21): also slow-path on object-store schemes (adoption
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
    val slice =
      if (!dedupe) slice0
      else {
        // LWW within the batch, per (partition identity, key): the
        // winning row equals the per-partition overwriteMerge against an
        // EMPTY snapshot — seq is the constant updates tag, the content-
        // hash tie-break covers the SAME tuple (payload columns in
        // dropPartCols order) the slow path hashes. Order alignment
        // (VERDICT r21 #5): the slow path hashes in UNIONED-frame order,
        // but the fast path only ever replaces FRESH-partition commits,
        // where the slow path's union starts from the empty `old` built
        // from inc's own schema — i.e. exactly dropPartCols order. The
        // two tie-breaks therefore pick the SAME winner; don't reuse this
        // dedup for non-fresh partitions without re-deriving that.
        val hashIn = payloadCols.map { c =>
          if (LakeTable.containsMap(slice0.schema(c).dataType)) to_json(col(c))
          else col(c)
        }
        slice0
          .groupBy((partitionCols :+ LakeTable.KeyCol).map(col): _*)
          .agg(max_by(
            struct(payloadCols.map(col): _*),
            struct(col(LakeTable.TsCol), lit(1L),
              xxhash64(hashIn: _*))).as("_r"))
          .select(partitionCols.map(col) :+ col("_r.*"): _*)
      }
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
            new HPath(tmpPath, d), schema,
            if (commitId.isEmpty) "" else s"$commitId:p=$v")
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
    * gets one [[LakeTable.merge]] commit; delete keys with a NULL
    * partition value fall back to the global bloom-pruned [[delete]]
    * path (separate commits — the rare payload-less envelope case).
    */
  def merge(updates: DataFrame, deleteKeys: DataFrame, commitId: String = ""): Unit = {
    requirePartCols(updates, "merge updates")
    requirePartCols(deleteKeys, "merge deleteKeys")
    mergeWith(updates, deleteKeys, commitId, partitionValues(updates, "updates"))
  }

  /** [[merge]] with the updates' distinct partition values PRE-COLLECTED
    * by the caller — CDC collects them once per batch for the migration
    * probe, and re-collecting the same distinct inside merge would run a
    * second job over the decoded batch for nothing.
    */
  def mergeWith(
      updates: DataFrame,
      deleteKeys: DataFrame,
      commitId: String,
      upVals: Seq[String]): Unit = {
    requirePartCols(updates, "merge updates")
    requirePartCols(deleteKeys, "merge deleteKeys")
    require(
      !upVals.contains(null),
      s"null ${partitionCols.mkString(",")} in updates — partition values must be non-null")
    // ONE pre-pass job (r21): the delete identities AND every routed
    // partition's affected-bucket set — updates ∪ deletes per identity
    // — feed the per-partition merges as affected hints (consumed only
    // where the computed set would be identical; see LakeTable.merge).
    // Exchange-free (the collectBuckets shape): per-task identity ->
    // BitSet maps, merged on the driver.
    // r22 (VERDICT r21 #6, same shape as writePartitions): the pre-pass
    // runs on the RAW frames — narrow projections — so a batch routing
    // to ONE partition with no global deletes skips both staging
    // exchanges + persists entirely; its single commit evaluates each
    // source exactly once anyway, and the hint carries its bucket set.
    val bucketCol = LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets)
    val delSel = deleteKeys
      .select(col(LakeTable.KeyCol), identityCol(deleteKeys).as("_p"))
    val sel = updates
      .select(identityCol(updates).as("_p"), bucketCol.as("_b"))
      .unionByName(delSel.select(col("_p"), bucketCol.as("_b")))
    val nb = numBuckets
    val perTask = sel.queryExecution.toRdd.mapPartitions { it =>
      val m = new java.util.HashMap[String, java.util.BitSet]()
      var sawNull = false
      while (it.hasNext) {
        val r = it.next()
        if (r.isNullAt(0)) sawNull = true
        else m.computeIfAbsent(r.getUTF8String(0).toString,
          _ => new java.util.BitSet(nb)).set(r.getInt(1))
      }
      val b = Seq.newBuilder[(String, Array[Long])]
      m.forEach((v, bs) => b += ((v, bs.toLongArray)))
      Iterator.single((b.result(), sawNull))
    }.collect()
    val merged = new java.util.HashMap[String, java.util.BitSet]()
    perTask.foreach(_._1.foreach { case (v, arr) =>
      merged.computeIfAbsent(v, _ => new java.util.BitSet(nb))
        .or(java.util.BitSet.valueOf(arr))
    })
    val hints: Map[String, Set[Int]] = {
      val b = Map.newBuilder[String, Set[Int]]
      merged.forEach { (v, bs) =>
        val ints = Set.newBuilder[Int]
        var i = bs.nextSetBit(0)
        while (i >= 0) { ints += i; i = bs.nextSetBit(i + 1) }
        b += v -> ints.result()
      }
      b.result()
    }
    val hasGlobalDeletes = perTask.exists(_._2)
    writeMetaIfAbsent(partitionCols.map(c => updates.schema(c).dataType))
    val existing = partitions.toSet
    // Targets: every partition receiving updates, plus EXISTING partitions
    // receiving only deletes (deleting from a partition that was never
    // written is a no-op, skip the dispatch entirely). A composite delete
    // identity with an embedded '/' component cannot name an existing
    // partition (writes reject those components loudly), so it is
    // filtered here exactly like any other never-written value.
    val targets =
      (upVals ++ hints.keys.filter(existing.contains)).distinct
    if (targets.size <= 1 && !hasGlobalDeletes) {
      // No staging EXCHANGE — but persist the filtered slices (lazily:
      // one consumer, no cold-block race): merge's commit plan references
      // the update source twice (ups branch + the in-batch semi-join) and
      // the delete keys twice (prune + anti-join), and an unstaged source
      // would re-run in full per reference.
      val slices = targets.map { v =>
        (v,
          dropPartCols(updates.filter(partFilter(updates, v))).persist(),
          delSel.filter(col("_p") === v).select(LakeTable.KeyCol).persist())
      }
      try dispatchPartitions(targets, commitId) { (lt, v, cid) =>
        val (_, ups, dels) = slices.find(_._1 == v).get
        lt.merge(ups, dels, cid, hints.get(v))
      } finally slices.foreach { case (_, u, d) =>
        u.unpersist(blocking = false); d.unpersist(blocking = false)
      }
      return
    }
    // r21: materialize both batch frames ONCE (same rationale as
    // writePartitions — each routed partition's merge re-evaluates them
    // as separate actions), clustered on the partition columns so each
    // routed commit's scans prune to its own cached blocks. Both are
    // batch-sized; unpersisted on exit.
    val cachedUp = stagedBatch(updates).persist()
    val delRows = delSel
      .repartition(
        spark.sparkContext.defaultParallelism,
        col("_p"),
        LakeTable.bucketOf(col(LakeTable.KeyCol), numBuckets))
      .persist()
    try {
      // ONE materialization job before the concurrent routed merges race
      // on cold cache blocks (see writePartitions): both frames under one
      // count via a union of constant projections — each branch scans its
      // own InMemoryRelation. Inside the try so a failing materialization
      // still unpersists.
      cachedUp.select(lit(1).as("c"))
        .unionByName(delRows.select(lit(1).as("c"))).count()
      dispatchPartitions(targets, commitId) { (lt, v, cid) =>
        lt.merge(
          dropPartCols(cachedUp.filter(partFilter(cachedUp, v))),
          delRows.filter(col("_p") === v).select(LakeTable.KeyCol),
          cid,
          hints.get(v))
      }
      if (hasGlobalDeletes)
        delete(
          delRows.filter(col("_p").isNull).select(LakeTable.KeyCol),
          commitId = if (commitId.isEmpty) "" else s"$commitId:global")
    } finally {
      cachedUp.unpersist(blocking = false)
      delRows.unpersist(blocking = false)
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
    // r21: the key set is re-evaluated by EVERY partition's bloom-pruned
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
    * dispatch visits ONLY the named partitions — the partition-value hint
    * that replaces the global-index fan-out entirely. Rows with a null
    * partition value fall back to the global path.
    */
  def deleteRouted(keys: DataFrame, commitId: String = ""): Unit = {
    requirePartCols(keys, "deleteRouted keys")
    // r21: one materialization serves the identity collect AND every
    // routed partition's filtered delete (separate actions otherwise
    // re-run the key-set plan per routed partition); routed deletes
    // dispatch from the shared bounded pool.
    val cached = keys.persist()
    try {
      val values = cached
        .select(identityCol(cached)).distinct().collect().map(_.getString(0))
      if (values.isEmpty) return
      val existing = partitions.toSet
      val routed = values.filter(v => v != null && existing.contains(v)).toSeq
      dispatchPartitions(routed, commitId, clearTombstones = false) {
        (lt, v, cid) =>
          lt.delete(
            cached.filter(partFilter(cached, v)).select(LakeTable.KeyCol),
            commitId = cid)
      }
      // ANY null component makes the identity null (see identityCol) —
      // those rows are unroutable and fall back to the global path.
      if (values.contains(null))
        delete(
          cached.filter(partitionCols.map(c => cached(c).isNull).reduce(_ || _))
            .select(LakeTable.KeyCol),
          commitId = if (commitId.isEmpty) "" else s"$commitId:global")
    } finally cached.unpersist(blocking = false)
  }

  /** Re-attach one partition component under its stored type, validating
    * the string→type cast DRIVER-SIDE first: a directory name that doesn't
    * round-trip (session-timezone-dependent timestamp rendering, or a
    * legacy string-partitioned dir after meta records a numeric type) would
    * otherwise cast to null silently and corrupt the partition column.
    */
  private def reattached(v: String, dt: DataType): org.apache.spark.sql.Column = {
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
    * [[LakeTable.addColumns]] (r18). Partitions born later inherit the
    * columns from the writes that create them.
    */
  def addColumns(cols: org.apache.spark.sql.types.StructType, commitId: String = ""): Unit =
    partitions.foreach { v =>
      partitionTable(v).addColumns(
        cols, if (commitId.isEmpty) "" else s"$commitId:p=$v")
    }

  /** Manifest-only type widening across every committed partition — see
    * [[LakeTable.widenColumn]] (r18). The partition column itself cannot
    * change type (its values are directory names under the recorded
    * type).
    */
  def widenColumn(name: String, to: DataType, commitId: String = ""): Unit = {
    require(!partitionCols.contains(name),
      s"cannot change the partition column '$name' — its values are " +
        "directory names under the recorded partition type")
    partitions.foreach { v =>
      partitionTable(v).widenColumn(
        name, to, if (commitId.isEmpty) "" else s"$commitId:p=$v")
    }
  }

  /** Manifest-only column rename across every committed partition — see
    * [[LakeTable.renameColumn]] (r20). Partition columns themselves
    * cannot rename (their values are directory names; the layout is
    * keyed by the declared names).
    */
  def renameColumn(from: String, to: String, commitId: String = ""): Unit = {
    require(!partitionCols.exists(c => c.equalsIgnoreCase(from) || c.equalsIgnoreCase(to)),
      s"cannot rename the partition column '$from'/'$to' — the layout is " +
        "keyed by the declared partition column names")
    // ADVICE r20: a declared-but-never-written table has no committed
    // schema — a silent no-op would report success and record nothing
    require(partitions.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    partitions.foreach { v =>
      partitionTable(v).renameColumn(
        from, to, if (commitId.isEmpty) "" else s"$commitId:p=$v")
    }
  }

  /** Manifest-only column drop across every committed partition — see
    * [[LakeTable.dropColumn]] (r20). Partition columns cannot drop.
    */
  def dropColumn(name: String, commitId: String = ""): Unit = {
    require(!partitionCols.exists(_.equalsIgnoreCase(name)),
      s"cannot drop the partition column '$name' — its values are the " +
        "directory layout")
    require(partitions.nonEmpty,
      s"empty table at $basePath — the first write defines the schema")
    partitions.foreach { v =>
      partitionTable(v).dropColumn(
        name, if (commitId.isEmpty) "" else s"$commitId:p=$v")
    }
  }

  /** Compact every partition's bucket file groups (commitId scoped per
    * partition, so a replayed compaction skips exactly the partitions
    * that already ran).
    */
  def compact(commitId: String = ""): Unit =
    partitions.foreach { v =>
      partitionTable(v).compact(
        if (commitId.isEmpty) "" else s"$commitId:p=$v")
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

  /** Empty result with the TABLE's schema (ADVICE r8): `spark
    * .emptyDataFrame` is ZERO-column, and batch consumers that
    * select/union a no-partitions-matched read or a nothing-changed
    * incremental fail on the missing columns. Cost: manifest reads only
    * (the union plan is lazy and carries no rows) against the LISTING THE
    * CALLER ALREADY HOLDS — no re-listing (r9 review); a never-written
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
        .exists(v => partitionTable(v).isCommitted(s"$commitId:p=$v"))
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
      numBuckets: Int = LakeTable.DefaultNumBuckets,
      filesPerBucket: Int = 1,
      bloomOnWrite: Boolean = true): Option[PartitionedLakeTable] = {
    val io = new LakeIO(basePath, spark.sparkContext.hadoopConfiguration)
    val meta = io.resolve("_table.json")
    if (!io.exists(meta)) None
    else {
      val col = new ObjectMapper().readTree(io.readString(meta))
        .get("partitionCol").asText()
      Some(new PartitionedLakeTable(
        spark, basePath, col, numBuckets,
        filesPerBucket = filesPerBucket, bloomOnWrite = bloomOnWrite))
    }
  }
}
