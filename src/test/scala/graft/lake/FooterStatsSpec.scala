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
  * write must run no `lake:stats` job. On the read side: every recorded
  * bound orders pushed literals as Spark's min and max do, decimals keep
  * every digit, and the two older sidecar shapes still prune.
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

  /** A two-bucket table whose bucket b holds `amount` values b*100 .. b*100+9,
    * one file per bucket; returns its dir, a fresh-handle factory (each
    * handle parses a sidecar once, so a rewritten sidecar needs a new one)
    * and the bucket's row counts.
    */
  private def twoBucketAmounts(prefix: String): (String, () => LakeTable, Seq[Int]) = {
    import spark.implicits._
    val dir = tempDir(prefix).resolve("t").toString
    val rows = (0 until 200).map(i => s"k$i").map { k =>
      (k, 1L, LakeTable.bucketOfKey(k, 2) * 100L + k.drop(1).toLong % 10)
    }
    def handle() = new LakeTable(spark, dir, numBuckets = 2, bloomOnWrite = false,
      statsColumns = Seq("amount"))
    handle().upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"), commitId = "c1")
    (dir, () => handle(), Seq(0, 1).map(b => rows.count(_._3 / 100 == b)))
  }

  /** Replaces the one commit's sidecar, dropping its stale checksum file. */
  private def rewriteSidecar(dir: String, json: String): Unit = {
    val d = java.nio.file.Paths.get(commitDir(dir))
    java.nio.file.Files.write(d.resolve(LakeTable.StatsFileName), json.getBytes("UTF-8"))
    java.nio.file.Files.deleteIfExists(d.resolve(s".${LakeTable.StatsFileName}.crc"))
  }

  test("the oldest sidecar shape (bounds only) prunes ranges, never nulls or files") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, IsNotNull, IsNull}
    val (dir, handle, rows) = twoBucketAmounts("fstats-oldest-")
    val atLeast100 = Seq(GreaterThanOrEqual("amount", 100L))
    val current = handle()
    val m = current.latestManifest().get
    // the current shape prunes bucket 0's file too
    assert(current.statsPrunedFiles(m, m.allBuckets, atLeast100) == Map(0 -> Nil))
    rewriteSidecar(dir,
      """{"buckets":{"0":{"amount":{"min":0,"max":9}},"1":{"amount":{"min":100,"max":109}}}}""")
    val lt = handle()
    assert(lt.statsPrunedBuckets(m, atLeast100) == Set(1))
    assert(lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amount", 110L))).isEmpty)
    // no null or row counts: neither null predicate can be proven empty
    assert(lt.statsPrunedBuckets(m, Seq(IsNull("amount"))) == Set(0, 1))
    assert(lt.statsPrunedBuckets(m, Seq(IsNotNull("amount"))) == Set(0, 1))
    // no file entries: no file is ever pruned
    assert(lt.statsPrunedFiles(m, m.allBuckets, atLeast100).isEmpty)
    assert(lt.statsPrune(m.version, atLeast100).get.count() == rows(1))
  }

  test("a sidecar with cols but no files prunes buckets, not files") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, IsNull}
    val (dir, handle, rows) = twoBucketAmounts("fstats-nofiles-")
    rewriteSidecar(dir, """{"buckets":{""" +
      s""""0":{"rows":${rows(0)},"cols":{"amount":{"nulls":0,"min":0,"max":9}}},""" +
      s""""1":{"rows":${rows(1)},"cols":{"amount":{"nulls":0,"min":100,"max":109}}}}}""")
    val lt = handle()
    val m = lt.latestManifest().get
    val atLeast100 = Seq(GreaterThanOrEqual("amount", 100L))
    assert(lt.statsPrunedBuckets(m, atLeast100) == Set(1))
    assert(lt.statsPrunedBuckets(m, Seq(IsNull("amount"))).isEmpty)
    assert(lt.statsPrunedFiles(m, m.allBuckets, atLeast100).isEmpty)
    assert(lt.statsPrunedFiles(m, Set(0, 1), Seq(GreaterThanOrEqual("amount", 200L))).isEmpty)
  }

  test("decimal bounds beyond double precision keep every digit") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    val dir = tempDir("fstats-dec38-").resolve("t").toString
    val (lo, hi) = ("1.123456789012345678", "2.000000000000000001")
    val df = Seq(("a", 1L, lo), ("b", 1L, "1.5"), ("c", 1L, hi))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "d")
      .withColumn("d", col("d").cast("decimal(38,18)"))
    val lt = new LakeTable(spark, dir, numBuckets = 1, bloomOnWrite = false,
      statsColumns = Seq("d"))
    lt.upsert(df, commitId = "c1")
    val m = lt.latestManifest().get
    def kept(f: Filter): Boolean = lt.statsPrunedBuckets(m, Seq(f)) == Set(0)
    val (dlo, dhi) = (new java.math.BigDecimal(lo), new java.math.BigDecimal(hi))
    // a double parse rounds lo up and hi down, which pruned these wrongly
    assert(kept(LessThanOrEqual("d", dlo)) && kept(EqualTo("d", dlo)))
    assert(kept(GreaterThanOrEqual("d", dhi)) && kept(EqualTo("d", dhi)))
    assert(!kept(LessThan("d", dlo)) && !kept(GreaterThan("d", dhi)))
  }

  test("recorded bounds order pushed literals as Spark's min and max do") {
    import spark.implicits._
    import org.apache.spark.sql.sources._
    val dir = tempDir("fstats-order-").resolve("t").toString
    val nb = 3
    val df = (0 until 90).map { i =>
      (s"k$i", 1L, i * 7 - 300, i.toLong * -1000000007L, i * 0.1 - 4.0,
        // U+1F600 sorts above U+FFFD in UTF-8 bytes, below it in UTF-16
        if (i % 4 == 0) s"😀$i" else if (i % 9 == 0) "" else s"${'\uFFFD'}$i",
        java.sql.Date.valueOf(java.time.LocalDate.of(1969, 12, 1).plusDays(i * 3L)),
        new java.sql.Timestamp(i * 86400000L * 400 - 5000000000L + i),
        BigDecimal(i * 37 - 1000, 2), BigDecimal(i.toLong * 1234567890123L, 18))
    }.toDF(LakeTable.KeyCol, LakeTable.TsCol, "i", "l", "d", "s", "dt", "ts", "dec9", "dec38")
      .withColumn("dec9", col("dec9").cast("decimal(9,2)"))
      .withColumn("dec38", col("dec38").cast("decimal(38,18)"))
      .withColumn("f", (col("i") / 3).cast("float"))
      .withColumn("sh", (col("i") % 100).cast("short"))
      .withColumn("by", (col("i") % 100).cast("byte"))
    val cols = Seq("i", "l", "d", "s", "dt", "ts", "dec9", "dec38", "f", "sh", "by")
    val lt = new LakeTable(spark, dir, numBuckets = nb, bloomOnWrite = false,
      statsColumns = cols)
    lt.upsert(df, commitId = "c1")
    val m = lt.latestManifest().get
    val written = spark.read.parquet(commitDir(dir))
    val aggs = cols.flatMap(c => Seq(min(c), max(c)))
    val bounds = written.groupBy(LakeTable.BucketCol).agg(aggs.head, aggs.tail: _*).collect()
    assert(bounds.length == nb)
    def kept(b: Int, f: Filter): Boolean = lt.statsPrunedBuckets(m, Seq(f)).contains(b)
    // both external forms Spark pushes for temporal literals
    def forms(v: Any): Seq[Any] = v match {
      case t: java.sql.Timestamp => Seq(t, t.toInstant)
      case d: java.sql.Date => Seq(d, d.toLocalDate)
      case other => Seq(other)
    }
    for (r <- bounds; (c, i) <- cols.zipWithIndex) {
      val b = r.getInt(0)
      for (lo <- forms(r.get(1 + 2 * i)); hi <- forms(r.get(2 + 2 * i))) {
        // bound == Spark's min (max): equal to it kept, strictly past it pruned
        assert(kept(b, EqualTo(c, lo)) && !kept(b, LessThan(c, lo)), s"min of $c in bucket $b")
        assert(kept(b, EqualTo(c, hi)) && !kept(b, GreaterThan(c, hi)), s"max of $c in bucket $b")
      }
    }
  }
}
