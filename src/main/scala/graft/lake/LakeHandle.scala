package graft.lake

import org.apache.spark.sql.DataFrame
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
