package graft.lake

import graft.SparkSpec
import org.apache.spark.graft.BenchProbe
import org.apache.spark.sql.functions._

/** r22: the stats sidecar's parquet-FOOTER fast path must record JSON
  * equivalent to the distributed-agg fallback for every statable type the
  * engine supports — same bucket/file rows, same min/max/null bounds,
  * same all-null and rollup behavior. The fallback is forced via
  * `-Dgraft.lake.stats.noFooter` (the production escape hatch), and the
  * fast path's engagement is pinned by asserting NO `lake:stats` agg job
  * runs when footers are usable.
  */
class FooterStatsSpec extends SparkSpec {

  private val NoFooterProp = "graft.lake.stats.noFooter"

  /** The one _stats.json of a single-commit table, parsed and normalized:
    * file-level nodes keep their JSON but lose the (random) part-file
    * names — entries are compared as a sorted multiset per bucket.
    */
  private def sidecar(dir: String): Map[String, (String, Seq[String])] = {
    import com.fasterxml.jackson.databind.ObjectMapper
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val data = new org.apache.hadoop.fs.Path(s"$dir/data")
    val commit = fs.listStatus(data).map(_.getPath).head
    val stats = new org.apache.hadoop.fs.Path(commit, "_stats.json")
    val in = fs.open(stats)
    val json =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json).get("buckets")
    val out = Map.newBuilder[String, (String, Seq[String])]
    root.fieldNames().forEachRemaining { b =>
      val node = root.get(b).deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
      val files = node.remove("files")
      val fileNodes = Seq.newBuilder[String]
      if (files != null)
        files.fieldNames().forEachRemaining(f => fileNodes += files.get(f).toString)
      out += b -> ((node.toString, fileNodes.result().sorted))
    }
    out.result()
  }

  private def writeDiverse(dir: String, fpb: Int): Unit = {
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
        BigDecimal(i.toLong * 123456789L, 2)) // decimal(18,2): long-backed
    }
    val df = rows.toDF(
      LakeTable.KeyCol, LakeTable.TsCol,
      "i", "l", "d", "s", "dt", "dec9", "dec18")
      .withColumn("dec9", col("dec9").cast("decimal(9,2)"))
      .withColumn("dec18", col("dec18").cast("decimal(18,2)"))
      // one column all-null EVERYWHERE (null-count-only nodes)
      .withColumn("allnull", lit(null).cast("double"))
    val lt = new LakeTable(spark, dir, numBuckets = 4, bloomOnWrite = false,
      filesPerBucket = fpb,
      statsColumns = Seq("i", "l", "d", "s", "dt", "dec9", "dec18", "allnull"))
    lt.upsert(df, commitId = "c1")
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

  test("footer-fed sidecar JSON equals the agg fallback's (all statable types)") {
    for (fpb <- Seq(1, 2)) { // fpb=2 exercises the row-group/file rollup merge
      val footerDir = tempDir(s"fstats-f$fpb-").resolve("t").toString
      val aggDir = tempDir(s"fstats-a$fpb-").resolve("t").toString
      val (_, footerJobs) = statsJobs(writeDiverse(footerDir, fpb))
      assert(footerJobs == 0,
        s"footer path must run ZERO lake:stats agg jobs, ran $footerJobs (fpb=$fpb)")
      System.setProperty(NoFooterProp, "true")
      val (_, aggJobs) =
        try statsJobs(writeDiverse(aggDir, fpb))
        finally System.clearProperty(NoFooterProp)
      assert(aggJobs > 0, "fallback must have engaged under the escape hatch")
      assert(sidecar(footerDir) == sidecar(aggDir),
        s"footer and agg sidecars diverged (fpb=$fpb)")
    }
  }

  test("non-finite doubles fall back and both paths agree (bounds dropped)") {
    import spark.implicits._
    def write(dir: String): Unit = {
      val df = Seq(
        ("a", 1L, 1.0), ("b", 1L, Double.NaN), ("c", 1L, 42.0),
        ("d", 1L, Double.PositiveInfinity))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "d")
      new LakeTable(spark, dir, numBuckets = 2, bloomOnWrite = false,
        statsColumns = Seq("d")).upsert(df, commitId = "c1")
    }
    val footerDir = tempDir("fstats-nan-f").resolve("t").toString
    val aggDir = tempDir("fstats-nan-a").resolve("t").toString
    write(footerDir)
    System.setProperty(NoFooterProp, "true")
    try write(aggDir) finally System.clearProperty(NoFooterProp)
    assert(sidecar(footerDir) == sidecar(aggDir), "NaN/Inf sidecars diverged")
  }

  test("timestamp columns agree whichever path engages (INT96 falls back)") {
    import spark.implicits._
    def write(dir: String): Unit = {
      val df = Seq(
        ("a", 1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
        ("b", 1L, java.sql.Timestamp.valueOf("2031-06-15 12:34:56.789")),
        ("c", 1L, null.asInstanceOf[java.sql.Timestamp]))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "t")
      new LakeTable(spark, dir, numBuckets = 2, bloomOnWrite = false,
        statsColumns = Seq("t")).upsert(df, commitId = "c1")
    }
    val footerDir = tempDir("fstats-ts-f").resolve("t").toString
    val aggDir = tempDir("fstats-ts-a").resolve("t").toString
    write(footerDir)
    System.setProperty(NoFooterProp, "true")
    try write(aggDir) finally System.clearProperty(NoFooterProp)
    assert(sidecar(footerDir) == sidecar(aggDir), "timestamp sidecars diverged")
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
    assert(jobs == 0, "footer path must be exercised here")
    val m = lt.latestManifest().get
    // statsPrunedBuckets returns the buckets a scan must KEEP
    val keep = lt.statsPrunedBuckets(
      m, Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("v", 200L)))
    assert(keep == Set(2, 3), s"expected buckets 0,1 pruned (keep 2,3), got $keep")
  }
}
