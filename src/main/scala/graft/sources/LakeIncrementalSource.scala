package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, SerializedOffset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.graft.StreamBatch
import org.apache.spark.sql.types.StructType

import graft.lake.{LakeTable, PartitionedLakeTable}

/** Version-vector offset for partitioned tables: each partition's
  * committed version, JSON-serialized with SORTED keys so offset equality
  * (which Spark derives from the json) is stable.
  */
final case class VectorOffset(versions: Map[String, Long]) extends Offset {
  override def json(): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    versions.toSeq.sortBy(_._1).foreach { case (k, v) => root.put(k, v) }
    mapper.writeValueAsString(root)
  }
}

object VectorOffset {
  def parse(json: String): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val node = new ObjectMapper().readTree(json)
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
  }
}

/** Streaming incremental read over a [[LakeTable]] or
  * [[PartitionedLakeTable]] — the counterpart of Hudi's streaming
  * incremental query (`hoodie.datasource.query.type=incremental` under
  * `readStream`, the read side of SURVEY.md §2.8):
  *
  * {{{
  *   spark.readStream.format("cdc-lake")
  *     .option("path", tablePath).option("buckets", "16")
  *     .load()
  * }}}
  *
  * The layout is self-detected from the path (`_table.json` marks a
  * partitioned table). Offsets are COMMITTED VERSIONS — a scalar for
  * plain tables, a per-partition version VECTOR ([[VectorOffset]]) for
  * partitioned ones (partitions version independently; a scalar cannot
  * address them). Each micro-batch reads exactly
  * `incrementalBetween(start, end]` (per partition, for vectors) —
  * bucket-pruned to the file groups rewritten in that range, never a
  * full-table diff, and deterministic under checkpoint replay (the same
  * version range always yields the same rows, until a vacuum drops the
  * range's manifests — which fails loudly rather than silently skipping).
  *
  * A fresh stream defaults to starting from nothing (first batch = full
  * snapshot). `option("startingVersion", v)` (plain tables) or
  * `option("startingTimestamp", t)` (both layouts; epoch millis or
  * `yyyy-MM-dd HH:mm:ss` UTC, resolved through the stamped commit times,
  * per partition on partitioned tables) names the CONSUMED base instead —
  * Hudi's incremental `read.begin.instanttime`: the first batch carries
  * changes strictly after it, and `startingTimestamp = now` tails only
  * new commits. Checkpointed streams ignore both (the checkpoint wins).
  *
  * Rate limiting (admission control — the `maxOffsetsPerTrigger`
  * analogue): `option("maxVersionsPerBatch", n)` caps how many committed
  * versions past the stream's position one micro-batch may cover (per
  * partition, for vectors). A stream catching up on a long-lived table —
  * or starting fresh against a large one — then chunks the backlog into
  * bounded batches instead of materializing the whole version range in
  * one, while a caught-up stream is unaffected. Replay stays
  * deterministic: the capped end offset is checkpointed like any other.
  * The cap counts COMMITTED versions still in the log, so vacuumed early
  * history is skipped, never addressed.
  *
  * `Trigger.AvailableNow` drains to completion in capped chunks: the
  * source implements [[SupportsTriggerAvailableNow]] itself (the
  * `FileStreamSource` pattern), so instead of Spark's v1 wrapper — which
  * fetches ONE offset per run and would stop after a single chunk — the
  * run freezes the then-current committed state as its target at
  * `prepareForTriggerAvailableNow` and advances capped micro-batches up
  * to that target, never past it (commits racing in after the freeze
  * belong to the next run).
  *
  * Contract notes (documented, not silent):
  *  - the first batch is the full snapshot at the then-latest version
  *    (version range `(0, v]`, every partition for vectors) — unless
  *    rate-limited, in which case the snapshot arrives chunked across
  *    the first ceil(v/n) batches;
  *  - hard deletes emit no tombstones (copy-on-write incremental — same
  *    as Hudi COW);
  *  - the schema is frozen at query start; a batch that is losslessly
  *    NARROWER (stale partition after a widening, missing nullable
  *    column) is cast up to the frozen schema, while a commit WIDER than
  *    the frozen schema fails the batch with an explicit restart
  *    instruction instead of emitting rows the frozen schema would
  *    misread (see [[conformToFrozen]]).
  */
class LakeIncrementalSource(
    ctx: SQLContext,
    parameters: Map[String, String])
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val path = parameters.getOrElse("path",
    throw new IllegalArgumentException("cdc-lake readStream requires a path option"))
  private val buckets =
    parameters.get("buckets").map(_.toInt).getOrElse(LakeTable.DefaultNumBuckets)

  private val handle = LakeHandles.open(ctx.sparkSession, path, buckets)

  private val maxVersions: Option[Long] = {
    val mx = parameters.get("maxVersionsPerBatch").map(_.toLong)
    require(mx.forall(_ > 0), s"maxVersionsPerBatch must be positive: ${mx.get}")
    mx
  }

  // Where a FRESH stream starts (Hudi's incremental
  // `read.begin.instanttime` shape). Both options name the CONSUMED
  // base — the first batch carries changes strictly AFTER it — and only
  // apply when the checkpoint holds no offset yet (a restart replays the
  // checkpointed range as always). `startingVersion` is the plain-table
  // scalar; `startingTimestamp` (epoch millis or 'yyyy-MM-dd HH:mm:ss'
  // UTC) resolves through the stamped commit times — per partition on
  // partitioned tables, where a version scalar would be ambiguous.
  // Default (neither): 0 / empty — first batch = full snapshot.
  private val startingBase: Option[Either[Long, Long]] = { // Left=version, Right=ts
    val sv = parameters.get("startingVersion")
    val st = parameters.get("startingTimestamp")
    require(sv.isEmpty || st.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    sv.map { v =>
      require(v.trim.nonEmpty && v.trim.forall(_.isDigit),
        s"startingVersion takes a version number, got '$v'")
      require(handle.partitionCols.isEmpty,
        "startingVersion is ambiguous on a partitioned table — use startingTimestamp")
      Left(v.trim.toLong)
    }.orElse(st.map(t => Right(LakeTable.parseInstantMillis(t))))
  }

  private lazy val startScalar: Long = (startingBase, handle) match {
    case (Some(Left(v)), t: LakeTable) =>
      val latest = t.latestVersion.getOrElse(0L)
      require(v <= latest,
        s"startingVersion $v is beyond the latest committed version $latest")
      v
    case (Some(Right(ts)), t: LakeTable) => t.versionAt(ts).getOrElse(0L)
    case _ => 0L
  }
  private lazy val startVector: Map[String, Long] = (startingBase, handle) match {
    case (Some(Right(ts)), pt: PartitionedLakeTable) => pt.versionsAt(ts)
    case _ => Map.empty
  }

  // The stream's position as of the last batch handed out — the base the
  // rate limiter caps against. Restart replay syncs it: Spark re-calls
  // getBatch with the checkpointed range before asking for a new offset.
  private var lastEnd: Option[Offset] = None

  // Frozen at query start (Structured Streaming requires a fixed schema
  // per query run; restart the stream to pick up a widened schema).
  override val schema: StructType = handle.snapshot.schema

  // The AvailableNow drain target: the committed state frozen at
  // prepareForTriggerAvailableNow. None outside AvailableNow runs.
  private var drainTarget: Option[Either[Map[String, Long], Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    drainTarget = Some(handle match {
      case pt: PartitionedLakeTable => Left(pt.currentVersions)
      case t: LakeTable => Right(t.latestVersion.getOrElse(0L))
    })

  // Admission control is internal (maxVersionsPerBatch caps inside
  // nextEnd); an engine-side limit would have no versions to count.
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The admission-control offset fetch — with [[SupportsTriggerAvailableNow]]
    * mixed in, the engine calls THIS (with the previous end as `start`),
    * never [[getOffset]].
    */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val prev = Option(start).map {
      case o: Offset => o
      case o => SerializedOffset(o.json()) // connector-only offset: re-wrap
    }
    nextEnd(prev).orNull
  }

  override def getOffset: Option[Offset] = nextEnd(lastEnd)

  /** The next micro-batch's end offset from position `prev`:
    * per-partition cap — every partition advances at most
    * `maxVersionsPerBatch` COMMITTED versions per batch (all catch up
    * concurrently; caught-up partitions sit at their real version). The
    * cap counts versions still in the log — an arithmetic prev+mx could
    * name a vacuumed manifest and wedge the stream permanently. Under an
    * AvailableNow drain the end is additionally bounded by the frozen
    * target: commits after the freeze — and partitions born after it —
    * belong to the next run.
    */
  private def nextEnd(prev: Option[Offset]): Option[Offset] = handle match {
    case pt: PartitionedLakeTable =>
      val prevVec = prev.map(vector).getOrElse(startVector)
      val vec = pt.nextVersions(
        prevVec, maxVersions, drainTarget.flatMap(_.left.toOption))
      if (vec.isEmpty) None else Some(VectorOffset(vec))
    case plain: LakeTable =>
      val prevScalar = prev.map(scalar).getOrElse(startScalar)
      val target = drainTarget.flatMap(_.toOption)
      plain.nextVersion(prevScalar, maxVersions, target)
        // Caught up (or everything eligible vacuumed): sit at the real
        // latest outside a drain, at the held position inside one — the
        // drain must converge on a stable offset, and the latest may
        // exceed (or, vacuumed, no longer include) the frozen target.
        .orElse(if (target.isDefined) Some(prevScalar) else plain.latestVersion)
        .filter(_ > 0L).map(LongOffset(_))
  }

  private def scalar(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json().trim.toLong // SerializedOffset after restart
  }

  private def vector(o: Offset): Map[String, Long] = o match {
    case VectorOffset(m) => m
    case other => VectorOffset.parse(other.json())
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    lastEnd = Some(end)
    val batch = handle match {
      case pt: PartitionedLakeTable =>
        pt.incrementalBetweenVec(start.map(vector).getOrElse(startVector), vector(end))
      case plain: LakeTable =>
        plain.incrementalBetween(start.map(scalar).getOrElse(startScalar), scalar(end))
    }
    StreamBatch.toStreaming(conformToFrozen(batch, end))
  }

  /** Conform a micro-batch to the frozen query schema. A batch that is
    * losslessly NARROWER — int under long, float under double, a missing
    * nullable column — is cast/filled up to the frozen schema instead of
    * failing: on a partitioned table, widening only rewrites partitions
    * that receive rows, so a later micro-batch covering a stale (still
    * narrow) partition deterministically carries the narrower schema and
    * a restart would NOT help (throwing would permanently wedge the
    * stream). Only a batch WIDER than or incompatible with the frozen
    * schema throws, where a restart genuinely adopts the new schema.
    */
  private def conformToFrozen(batch: DataFrame, end: Offset): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.functions.{col, lit}
    def fail(why: String): Nothing = throw new IllegalStateException(
      s"lake table schema changed mid-stream (query started with $schema, " +
        s"range ending at ${end.json()} carries ${batch.schema}: $why); " +
        "restart the stream from its checkpoint to adopt the new schema")
    if (batch.schema == schema) batch
    else if (batch.schema.isEmpty)
      ctx.sparkSession.createDataFrame(
        ctx.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else {
      val extra = batch.columns.filterNot(c => schema.fieldNames.contains(c))
      if (extra.nonEmpty) fail(s"new column(s) ${extra.mkString(", ")}")
      val cols = schema.fields.map { f =>
        batch.schema.find(_.name == f.name) match {
          case Some(bf) if bf.dataType == f.dataType => col(f.name)
          case Some(bf) if Cast.canUpCast(bf.dataType, f.dataType) =>
            col(f.name).cast(f.dataType).as(f.name)
          case Some(bf) =>
            fail(s"column ${f.name} widened beyond the frozen type " +
              s"(${f.dataType.simpleString} -> ${bf.dataType.simpleString})")
          case None if f.nullable => lit(null).cast(f.dataType).as(f.name)
          case None => fail(s"non-nullable column ${f.name} missing from the batch")
        }
      }
      batch.select(cols.toIndexedSeq: _*)
    }
  }

  override def stop(): Unit = ()
}
