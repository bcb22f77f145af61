package graft.lake

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.{
  WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

/** One column's bounds over a set of rows, as Spark internal values (epoch
  * micros for timestamps, epoch days for dates, UTF8String, Decimal);
  * `min`/`max` are null when every row is null.
  */
private[lake] final case class ColFacts(min: Any, max: Any, nulls: Long)

/** What a commit records of one written data file: its bucket, its name in
  * the bucket dir, its row count, its stat columns' bounds and the name of
  * its bloom sidecar in the same dir (when one was built).
  */
private[lake] final case class FileFacts(
    bucket: Int, name: String, rows: Long, cols: Seq[ColFacts], bloom: Option[String])

/** Collects every per-file fact a commit needs inside the write tasks, so
  * the commit reads nothing back: row counts, min/max/null counts of the
  * stat columns and, when `bloomKey` names the key column, each file's bloom
  * filter. The filter goes to a `_`-prefixed sibling of the data file in the
  * task-attempt directory, so the output committer publishes it with that
  * file (or drops both); only names, counts and bounds reach the driver.
  *
  * Column indexes are positions in the written row (the data columns, in
  * order; the bucket partition column comes last). `filesPerBucket` is how
  * many files this write may put in one bucket, None when every write task
  * may write every bucket (the task-local bulk load): readers OR a bucket's
  * per-file filters, so each is sized for 1% split over that many files.
  */
private[lake] final class FileFactsTracker(
    conf: SerializableConfiguration,
    bloomKey: Option[Int],
    statCols: Seq[(Int, DataType)],
    filesPerBucket: Option[Int]) extends WriteJobStatsTracker {

  @transient private var committed: Seq[FileFacts] = Nil

  /** The committed files' facts, once the write job has finished. */
  def files: Seq[FileFacts] = committed

  override def newTaskInstance(): WriteTaskStatsTracker =
    new FileFactsTracker.Task(conf, bloomKey, statCols, filesPerBucket)

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit =
    committed = stats.flatMap { case FileFactsTracker.TaskFacts(fs) => fs; case _ => Nil }
}

private[lake] object FileFactsTracker {

  /** Bloom sizing: n = the file's rows, and 1% false positives over all
    * the files one bucket may get in a write, so `files` filters ORed
    * together stay near 1%.
    */
  private[lake] def bloomFpp(files: Int): Double = 0.01 / files.max(1)

  private final case class TaskFacts(files: Seq[FileFacts]) extends WriteTaskStats

  /** Running min/max of one column in Spark's own ordering for its type
    * (NaN greatest, strings by UTF-8 bytes): the order `min`/`max`
    * aggregates use.
    */
  private final class Bounds(dt: DataType) {
    private val ord = TypeUtils.getInterpretedOrdering(dt)
    private var min, max: Any = null

    def add(v: Any): Unit = {
      if (min == null || ord.lt(v, min)) min = InternalRow.copyValue(v)
      if (max == null || ord.gt(v, max)) max = InternalRow.copyValue(v)
    }

    def facts(nulls: Long): ColFacts = ColFacts(min, max, nulls)
  }

  /** Bounds of one column over several files (a bucket's rollup). */
  def union(dt: DataType, files: Seq[ColFacts]): ColFacts = {
    val b = new Bounds(dt)
    files.foreach(c => if (c.min != null) { b.add(c.min); b.add(c.max) })
    b.facts(files.map(_.nulls).sum)
  }

  /** A file's keys packed as (length, UTF-8 bytes) records into byte
    * chunks: about 4 + key bytes of heap per row and no object per row.
    * Chunks start at 4 KiB and double up to 8 MiB, so growing never copies
    * what is stored and no single array nears the JVM's 2 GiB limit.
    */
  private[lake] final class KeyBuffer {
    private val full = scala.collection.mutable.ArrayBuffer.empty[(Array[Byte], Int)]
    private var chunk = Array.emptyByteArray
    private var used = 0

    def add(k: UTF8String): Unit = {
      val n = k.numBytes
      if (chunk.length - used < 4L + n) {
        if (used > 0) full += chunk -> used
        chunk = new Array[Byte](KeyBuffer.nextChunk(chunk.length, n))
        used = 0
      }
      Platform.putInt(chunk, Platform.BYTE_ARRAY_OFFSET + used, n)
      k.writeToMemory(chunk, Platform.BYTE_ARRAY_OFFSET + used + 4)
      used += 4 + n
    }

    /** Every key, in insertion order. */
    def foreach(f: Array[Byte] => Unit): Unit =
      (full :+ (chunk -> used)).foreach { case (c, end) =>
        var off = 0
        while (off < end) {
          val n = Platform.getInt(c, Platform.BYTE_ARRAY_OFFSET + off)
          f(java.util.Arrays.copyOfRange(c, off + 4, off + 4 + n))
          off += 4 + n
        }
      }
  }

  private[lake] object KeyBuffer {
    val MinChunk: Int = 4 << 10
    val MaxChunk: Int = 8 << 20

    /** The length of the chunk after one of `prev` bytes, for a record
      * whose key has `keyBytes` bytes: double, within [MinChunk, MaxChunk],
      * and at least the record. Long arithmetic, so it never wraps.
      */
    def nextChunk(prev: Int, keyBytes: Int): Int =
      Math.toIntExact((2L * prev).max(MinChunk).min(MaxChunk).max(4L + keyBytes))
  }

  /** One open file: its row count, column bounds and keys. */
  private final class OpenFile(dts: Array[DataType], val bloomName: String) {
    var rows = 0L
    val bounds: Array[Bounds] = dts.map(new Bounds(_))
    val nulls = new Array[Long](dts.length)
    val keys = new KeyBuffer

    def bloom(fpp: Double): BloomFilter = {
      val bf = BloomFilter.create(rows.max(1L), fpp)
      keys.foreach(k => bf.putBinary(k))
      bf
    }
  }

  private final class Task(
      conf: SerializableConfiguration,
      bloomKey: Option[Int],
      statCols: Seq[(Int, DataType)],
      filesPerBucket: Option[Int]) extends WriteTaskStatsTracker {
    private val idx = statCols.map(_._1).toArray
    private val dts = statCols.map(_._2).toArray
    private val key = bloomKey.getOrElse(-1)
    private val open = new java.util.HashMap[String, OpenFile]()
    // Sidecar names unique within a commit dir: the task's partition (the
    // `part-NNNNN` of its data files) and its count of files opened.
    private val task = f"${org.apache.spark.TaskContext.getPartitionId()}%05d"
    private val fpp =
      bloomFpp(filesPerBucket.getOrElse(org.apache.spark.TaskContext.get().numPartitions()))
    private var opened = 0
    private val done = Seq.newBuilder[FileFacts]

    override def newPartition(partitionValues: InternalRow): Unit = ()

    override def newFile(filePath: String): Unit = {
      open.put(filePath, new OpenFile(dts, s"${LakeTable.BloomFileName}-$task-$opened"))
      opened += 1
    }

    override def newRow(filePath: String, row: InternalRow): Unit = {
      val f = open.get(filePath)
      f.rows += 1
      var i = 0
      while (i < idx.length) {
        if (row.isNullAt(idx(i))) f.nulls(i) += 1 else f.bounds(i).add(row.get(idx(i), dts(i)))
        i += 1
      }
      if (key >= 0 && !row.isNullAt(key)) f.keys.add(row.getUTF8String(key))
    }

    override def closeFile(filePath: String): Unit = {
      val f = open.remove(filePath)
      val path = new Path(filePath)
      if (key >= 0) {
        val target = new Path(path.getParent, f.bloomName)
        val out = target.getFileSystem(conf.value).create(target, false)
        try f.bloom(fpp).writeTo(out) finally out.close()
      }
      done += FileFacts(
        path.getParent.getName.stripPrefix(LakeTable.BucketCol + "=").toInt,
        path.getName, f.rows, dts.indices.map(i => f.bounds(i).facts(f.nulls(i))),
        if (key >= 0) Some(f.bloomName) else None)
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = TaskFacts(done.result())
  }
}
