package org.apache.spark.sql.graft

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Row, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{
  BasicWriteJobStatsTracker, FileFormatWriter, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.util.SerializableConfiguration

/** A partitioned parquet write with one caller stats tracker beside
  * Spark's basic one — the `FileFormatWriter` job that
  * `df.write.partitionBy(col).parquet(path)` runs, which offers no hook for
  * extra trackers (the shape of Delta's `DeltaJobStatisticsTracker`). It
  * runs as one SQL execution named `name` on the frame's own
  * QueryExecution, so query listeners see it like any other action.
  */
object TrackedWrite {

  def parquet(
      df: DataFrame, path: String, partitionCol: String, name: String,
      tracker: WriteJobStatsTracker): Unit = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val spark = ds.sparkSession
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val plan = qe.executedPlan
      val hadoopConf = spark.sessionState.newHadoopConf()
      val committer = FileCommitProtocol.instantiate(
        spark.sessionState.conf.fileCommitProtocolClass,
        jobId = java.util.UUID.randomUUID().toString,
        outputPath = path)
      val basic = new BasicWriteJobStatsTracker(
        new SerializableConfiguration(hadoopConf), BasicWriteJobStatsTracker.metrics)
      FileFormatWriter.write(
        spark, plan, new ParquetFileFormat, committer,
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output), hadoopConf,
        plan.output.filter(_.name == partitionCol), None, Seq(basic, tracker), Map.empty)
    }
  }
}
