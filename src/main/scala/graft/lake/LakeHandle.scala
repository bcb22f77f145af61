package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** A lake table of either layout: a plain bucketed [[LakeTable]] or a
  * [[PartitionedLakeTable]] (one LakeTable per partition value). The
  * layout is a per-table write option, as in the reference
  * (`BinlogSyncHoodieCommand.scala:128-139`), so callers hold one handle
  * and reach the layout-specific API (version scalars vs vectors,
  * savepoints, routed probes and deletes) by matching on the two classes
  * where they use it. Those two classes are the only implementations.
  *
  * Only the operations both layouts implement with one meaning live
  * here; a partitioned table applies each to every committed partition.
  */
trait LakeHandle {
  def snapshot: DataFrame
  def snapshotReadOptimized: DataFrame

  def upsert(updates: DataFrame, commitId: String = ""): Unit
  /** No default commit id: [[LakeTable.bulkInsert]] keeps its own
    * defaulted overload with a sort mode.
    */
  def bulkInsert(rows: DataFrame, commitId: String): Unit
  def merge(updates: DataFrame, deleteKeys: DataFrame, commitId: String = ""): Unit
  def compact(commitId: String = ""): Unit

  /** Retention; returns the number of data dirs removed. */
  def vacuum(keepVersions: Int = 1): Int
  def vacuumBefore(cutoffMillis: Long): Int

  def addColumns(cols: StructType, commitId: String = ""): Unit
  def widenColumn(name: String, to: DataType, commitId: String = ""): Unit
  def renameColumn(from: String, to: String, commitId: String = ""): Unit
  def dropColumn(name: String, commitId: String = ""): Unit

  /** The declared Z-order clustering columns (empty when unclustered). */
  def zorderBy: Seq[String]

  /** The partition columns in layout order; empty for a plain table. */
  def partitionCols: Seq[String]
}

object LakeHandle {

  /** A writer handle for the table at `path`, its layout decided by what
    * is stored: a partitioned table (its `_table.json`) stays partitioned
    * on its stored columns, a plain table with committed versions stays
    * plain, and only a table with nothing committed takes the declared
    * layout. A declaration that contradicts committed data fails loudly:
    * another column list, or any partition column on committed plain data
    * (the `p=` dirs would hide every plain row from every reader). No
    * declaration keeps the stored layout, so a writer that omits it can
    * never write a plain `_commits` beside a partitioned table.
    * `mergeMode` None takes the stored table's mode.
    */
  def forWrite(
      spark: SparkSession, path: String, buckets: Int, declaredPartition: Option[String],
      filesPerBucket: Int, bloomOnWrite: Boolean, zorderBy: Seq[String],
      tableType: String, compactAfter: Int, statsColumns: Seq[String],
      mergeMode: Option[String]): LakeHandle = {
    def mode(stored: => Boolean): String = mergeMode.getOrElse(
      if (stored) LakeTable.PartialMode else LakeTable.OverwriteMode)
    def partitioned(cols: String, partial: => Boolean) = new PartitionedLakeTable(
      spark, path, cols, buckets, filesPerBucket = filesPerBucket,
      bloomOnWrite = bloomOnWrite, zorderBy = zorderBy, tableType = tableType,
      compactAfter = compactAfter, mergeMode = mode(partial), statsColumns = statsColumns)
    PartitionedLakeTable.open(spark, path, buckets) match {
      case Some(pt0) =>
        // case-insensitive like Spark's own column resolution, elementwise
        // in layout order; the STORED list stays authoritative
        declaredPartition.foreach { p =>
          val dc = p.split(",").map(_.trim)
          require(
            dc.length == pt0.partitionCols.size &&
              dc.zip(pt0.partitionCols).forall { case (a, b) => a.equalsIgnoreCase(b) },
            s"cdc-lake table at $path is partitioned on '${pt0.partitionCol}' " +
              s"— conflicting partitionCol '$p'")
        }
        partitioned(pt0.partitionCol, pt0.isPartialTable)
      case None =>
        val t0 = new LakeTable(spark, path, buckets)
        declaredPartition match {
          case Some(p) =>
            require(t0.latestVersion.isEmpty,
              s"cdc-lake table at $path already exists as a PLAIN " +
                s"(unpartitioned) table — partitionCol '$p' cannot " +
                "repartition committed data")
            partitioned(p, false)
          case None =>
            new LakeTable(spark, path, buckets,
              filesPerBucket = filesPerBucket, zorderBy = zorderBy,
              bloomOnWrite = bloomOnWrite, tableType = tableType,
              compactAfter = compactAfter, mergeMode = mode(t0.isPartialTable),
              statsColumns = statsColumns)
        }
    }
  }
}
