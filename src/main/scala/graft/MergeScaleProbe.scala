package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{LakeTable, PartitionedLakeTable}

/** Scale-evidence probe for the SQL-MERGE membership-probe path:
  * the 100 TB claims are (a) probe cost scales with the BATCH, not the
  * table — blooms prove most absent keys absent and only candidate
  * buckets scan; (b) the partitioned probe resolves ALL partitions'
  * candidate buckets in ONE driver job (not one eager job per
  * partition); (c) in-band routing shrinks even that to the partitions
  * the batch names. This probe MEASURES all three against a fixed
  * synthetic table: batch sizes 1x/4x/16x over a constant corpus for
  * (a); `BenchProbe`'s job counter plus wall/tasks for (b) and
  * (c). Record the numbers in BASELINE.md (ScaleProbe protocol).
  *
  * Usage: `sbt "runMain graft.MergeScaleProbe"` (~2-3 min; one JSON
  * line per measurement).
  */
object MergeScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val probe = new org.apache.spark.graft.BenchProbe
    probe.install(spark.sparkContext)

    val root = java.nio.file.Files.createTempDirectory("mergeprobe-").toString

    def keys(n: Long, presentEvery: Long = 2): DataFrame =
      // half the batch exists in the corpus (k<id>), half is fresh (f<id>)
      spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
        .select(when(col("id") % presentEvery === 0,
          concat(lit("k"), col("id")))
          .otherwise(concat(lit("f"), col("id"))).as(LakeTable.KeyCol))

    def measure(op: String, scale: Int, batch: Long)(run: => Long): Unit = {
      probe.harvest(spark.sparkContext)
      val t0 = System.nanoTime()
      val out = run
      val wallMs = (System.nanoTime() - t0) / 1000000L
      val st = probe.harvest(spark.sparkContext)
      println(s"""{"op":"$op","scale":$scale,"batch":$batch,"out_rows":$out,""" +
        s""""wall_ms":$wallMs,"driver_jobs":${st("jobs")},""" +
        Seq("tasks", "shuffle_read_b", "shuffle_write_b", "spill_b")
          .map(k => s""""$k":${st(k)}""").mkString(",") + "}")
    }

    // ---- (a) plain-table probe: fixed 200k-row corpus, growing batch --
    val plainDir = s"$root/plain"
    val plain = new LakeTable(spark, plainDir, numBuckets = 64)
    plain.bulkInsert(
      spark.range(0, 200000L, 1, spark.sparkContext.defaultParallelism)
        .select(
          concat(lit("k"), col("id")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("id").as("payload")))
    for ((s, n) <- Seq((1, 4000L), (4, 16000L), (16, 64000L))) {
      measure("probeKeys", s, n)(plain.probeKeys(keys(n)).count())
      measure("rowsForKeys", s, n)(plain.rowsForKeys(keys(n)).count())
    }

    // ---- (b)+(c) partitioned probe: 16 partitions x 12.5k rows --------
    val partDir = s"$root/part"
    val pt = new PartitionedLakeTable(spark, partDir, "p", numBuckets = 16)
    pt.bulkInsert(
      spark.range(0, 200000L, 1, spark.sparkContext.defaultParallelism)
        .select(
          concat(lit("k"), col("id")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          concat(lit("p"), pmod(col("id"), lit(16))).as("p"),
          col("id").as("payload")))
    val batch = 16000L
    // global probe (no in-band values): ONE candidate job over all 16
    // partitions — driver_jobs is the r17-vs-r18 evidence (was ~1 per
    // partition)
    measure("partProbeGlobal", 16, batch)(pt.probeKeys(keys(batch)).count())
    // routed: the batch names 4 of the 16 partitions
    val routed = Some((0 until 4).map(i => s"p$i"))
    measure("partProbeRouted", 4, batch)(
      pt.probeKeys(keys(batch), inPartitions = routed).count())
    measure("partRowsRouted", 4, batch)(
      pt.rowsForKeys(keys(batch), inPartitions = routed).count())

    spark.stop()
  }
}
