package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.SparkSpec
import org.apache.spark.graft.BenchProbe
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, TimestampType}

/** The stats sidecar the write tasks record must be byte-equal to the one
  * a Spark aggregation over the written files yields: per file (grouped on
  * `input_file_name`) and per bucket, min/max under Spark's own orderings
  * (timestamps as epoch micros, dates as epoch days), null counts and row
  * counts, serialized the way the sidecar always has been (non-finite
  * bounds dropped, floats widened exactly, decimals at their scale). The
  * write must run no `lake:stats` job.
  */
class FooterStatsSpec extends SparkSpec {

  /** The single commit dir of a one-commit table. */
  private def commitDir(dir: String): String = {
    val data = java.nio.file.Paths.get(dir, LakeTable.DataDirName)
    java.nio.file.Files.list(data).iterator().asScala.toSeq.head.toString
  }

  private def sidecarJson(dir: String): String = new String(
    java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(commitDir(dir), LakeTable.StatsFileName)), "UTF-8")

  /** The sidecar JSON rebuilt from a Spark aggregation over the commit's
    * files: per-file min/max/nulls/rows, rolled up per bucket by a second
    * aggregation over the per-file rows.
    */
  private def aggregatedJson(dir: String, cols: Seq[String]): String = {
    val df = spark.read.parquet(commitDir(dir))
    val aggs = cols.flatMap { c =>
      val qc = df.schema(c).dataType match {
        case TimestampType => unix_micros(col(c))
        case DateType => unix_date(col(c))
        case _ => col(c)
      }
      Seq(min(qc).as(s"min:$c"), max(qc).as(s"max:$c"),
        sum(when(qc.isNull, 1L).otherwise(0L)).as(s"nulls:$c"))
    } :+ count(lit(1)).as("rows")
    val perFile = df.groupBy(
        col(LakeTable.BucketCol), element_at(split(input_file_name(), "/"), -1).as("_file"))
      .agg(aggs.head, aggs.drop(1): _*)
    val fileRows = perFile.collect()
    val rollups = cols.flatMap { c =>
      Seq(min(col(s"`min:$c`")), max(col(s"`max:$c`")), sum(col(s"`nulls:$c`")).cast("long"))
    } :+ sum(col("rows")).cast("long")
    val bucketRows = spark.createDataFrame(fileRows.toSeq.asJava, perFile.schema)
      .groupBy(col(LakeTable.BucketCol)).agg(rollups.head, rollups.drop(1): _*)
      .collect().sortBy(_.getInt(0))

    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val buckets = root.putObject("buckets")
    def put(node: ObjectNode, field: String, v: Any): Unit = v match {
      case s: String => node.put(field, s)
      case d: java.lang.Double => node.put(field, d.doubleValue())
      case f: java.lang.Float => node.put(field, f.doubleValue())
      case dec: java.math.BigDecimal => node.put(field, dec)
      case n: java.lang.Number => node.put(field, n.longValue())
    }
    def finite(v: Any): Boolean = v match {
      case d: java.lang.Double => java.lang.Double.isFinite(d)
      case f: java.lang.Float => java.lang.Float.isFinite(f)
      case _ => true
    }
    // row layout: [prefix, (min, max, nulls) per column, rows]
    def emit(node: ObjectNode, r: Row, off: Int): Unit = {
      node.put("rows", r.getLong(off + cols.size * 3))
      val colsNode = node.putObject("cols")
      cols.zipWithIndex.foreach { case (c, i) =>
        val cNode = colsNode.putObject(c)
        cNode.put("nulls", r.getLong(off + 2 + i * 3))
        val (mn, mx) = (r.get(off + i * 3), r.get(off + 1 + i * 3))
        if (mn != null && finite(mn) && finite(mx)) { put(cNode, "min", mn); put(cNode, "max", mx) }
      }
    }
    val filesByBucket = fileRows.groupBy(_.getInt(0))
    bucketRows.foreach { r =>
      val b = r.getInt(0)
      val bNode = buckets.putObject(b.toString)
      emit(bNode, r, 1)
      val filesNode = bNode.putObject("files")
      filesByBucket(b).sortBy(_.getString(1))
        .foreach(f => emit(filesNode.putObject(f.getString(1)), f, 2))
    }
    mapper.writeValueAsString(root)
  }

  /** `f`'s result and the number of `lake:stats` jobs it ran, counted by a
    * [[BenchProbe]] (its harvest drains the async listener bus first).
    */
  private def statsJobs[A](f: => A): (A, Long) = {
    val probe = new BenchProbe
    probe.install(spark.sparkContext)
    try {
      val r = f
      (r, probe.harvest(spark.sparkContext).getOrElse("jobs.lake:stats", 0L))
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  /** Writes `df` as one commit with `cols` as stats columns and checks its
    * sidecar against the aggregation, byte for byte.
    */
  private def assertSidecar(
      prefix: String, df: org.apache.spark.sql.DataFrame, cols: Seq[String],
      numBuckets: Int = 2, fpb: Int = 1): Unit = {
    val dir = tempDir(prefix).resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = numBuckets, bloomOnWrite = false,
      filesPerBucket = fpb, statsColumns = cols)
    val (_, jobs) = statsJobs(lt.upsert(df, commitId = "c1"))
    assert(jobs == 0, s"the commit must run no lake:stats job, ran $jobs")
    assert(sidecarJson(dir) == aggregatedJson(dir, cols), s"sidecar diverged ($prefix)")
  }

  test("write-task sidecar JSON equals a per-file Spark aggregation (all types)") {
    import spark.implicits._
    val n = 400
    val rows = (0 until n).map { i =>
      (s"k$i", i.toLong,
        i - 200, // int, negatives
        i.toLong * 1000000007L, // long, wide range
        if (i % 7 == 0) null else java.lang.Double.valueOf(i * 1.5 - 300.0),
        // strings: empty, unicode beyond BMP, plain — UTF-8 order matters
        if (i % 11 == 0) "" else if (i % 5 == 0) s"😀$i" else s"s$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1).plusDays(i)),
        BigDecimal(i * 37 - 5000, 2), // decimal(9,2): int-backed
        BigDecimal(i.toLong * 123456789L, 2), // decimal(18,2): long-backed
        BigDecimal(i.toLong * 123456789L, 2)) // decimal(30,2): binary-backed
    }
    val df = rows.toDF(
      LakeTable.KeyCol, LakeTable.TsCol,
      "i", "l", "d", "s", "dt", "dec9", "dec18", "dec30")
      .withColumn("dec9", col("dec9").cast("decimal(9,2)"))
      .withColumn("dec18", col("dec18").cast("decimal(18,2)"))
      .withColumn("dec30", col("dec30").cast("decimal(30,2)"))
      .withColumn("f", (col("i") / 3).cast("float"))
      .withColumn("sh", (col("i") % 100).cast("short"))
      .withColumn("by", (col("i") % 100).cast("byte"))
      // one column all-null EVERYWHERE (null-count-only nodes)
      .withColumn("allnull", lit(null).cast("double"))
    val cols = Seq("i", "l", "d", "s", "dt", "dec9", "dec18", "dec30", "f", "sh", "by", "allnull")
    for (fpb <- Seq(1, 2)) // fpb=2 exercises the per-file to bucket rollup
      assertSidecar(s"fstats-f$fpb-", df, cols, numBuckets = 4, fpb = fpb)
  }

  test("non-finite doubles drop their bounds as a Spark aggregation does") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 1.0), ("b", 1L, Double.NaN), ("c", 1L, 42.0),
      ("d", 1L, Double.PositiveInfinity), ("e", 1L, Double.NegativeInfinity),
      ("f", 1L, 7.0))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "d")
    assertSidecar("fstats-nan-", df, Seq("d"))
  }

  test("timestamp sidecars equal a Spark aggregation (INT96 and micros)") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      ("b", 1L, java.sql.Timestamp.valueOf("2031-06-15 12:34:56.789")),
      ("c", 1L, null.asInstanceOf[java.sql.Timestamp]),
      ("d", 1L, java.sql.Timestamp.valueOf("1969-12-31 23:59:59.999999")))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "t")
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    for (tsType <- Seq("INT96", "TIMESTAMP_MICROS")) {
      spark.conf.set(key, tsType)
      try assertSidecar(s"fstats-ts-$tsType-", df, Seq("t"))
      finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stats pruning still works on a footer-written sidecar") {
    val dir = tempDir("fstats-prune-").resolve("t").toString
    import spark.implicits._
    val nb = 4
    val rows = (0 until 200).map { i =>
      val k = s"k$i"
      (k, 1L, LakeTable.bucketOfKey(k, nb) * 100L)
    }
    val lt = new LakeTable(spark, dir, numBuckets = nb, bloomOnWrite = false,
      statsColumns = Seq("v"))
    val (_, jobs) = statsJobs(
      lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "v"), commitId = "c1"))
    assert(jobs == 0, "the commit must run no lake:stats job")
    val m = lt.latestManifest().get
    // statsPrunedBuckets returns the buckets a scan must KEEP
    val keep = lt.statsPrunedBuckets(
      m, Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 200L)))
    assert(keep == Set(2, 3), s"expected buckets 0,1 pruned (keep 2,3), got $keep")
  }
}
