package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order lanes on TIMESTAMP / DATE / STRING columns (r20): per-type
  * monotone long encodings (epoch micros/days; 7-byte UTF-8 prefix) feed
  * the Morton code, so `run_clustering` can retrofit locality onto the
  * columns users actually cluster by.
  */
class ZorderLaneSpec extends SparkSpec {
  import spark.implicits._

  private def msgs(x: Throwable): String =
    Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("run_clustering on (timestamp, string): files tile the curve, stats prune (r20)") {
    val dir = tempDir("zlane-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, filesPerBucket = 4,
      statsColumns = Seq("ts_at", "tag"))
    val rows = (0 until 4000).map { i =>
      (s"k$i", 1L,
        new java.sql.Timestamp(1700000000000L + i * 60000L),
        s"${('a' + i % 7).toChar}tag$i")
    }
    lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "ts_at", "tag"))
    val filters = Seq(org.apache.spark.sql.sources.LessThan(
      "ts_at", new java.sql.Timestamp(1700000000000L + 400L * 60000L)))
    // unclustered: each of the 4 key-hash-random files spans ~the whole
    // ts range — no FILE is provably excludable
    val m1 = lt.latestManifest().get
    val before = lt.statsPrunedFiles(m1, lt.statsPrunedBuckets(m1, filters), filters)
    assert(before.isEmpty, s"unclustered files should not prune, got $before")
    // post-hoc re-cluster on the temporal + string lanes via SQL CALL
    spark.sql(
      s"""CREATE TABLE zlane_t USING `cdc-lake` OPTIONS (
         |  path '$dir', buckets '1', filesPerBucket '4',
         |  statsColumns 'ts_at,tag')""".stripMargin)
    try {
      spark.sql("CALL run_clustering(table => 'zlane_t', columns => 'ts_at,tag')")
      val m2 = lt.latestManifest().get
      assert(m2.version > m1.version)
      val after = lt.statsPrunedFiles(m2, lt.statsPrunedBuckets(m2, filters), filters)
      assert(after.nonEmpty && after(0).size < 4,
        s"clustered files should tile ts and prune the early-range filter, got $after")
      // clustering is only a sort: the row set is untouched
      assert(lt.snapshot.count() === 4000)
      assert(lt.snapshot.agg(sum(unix_micros(col("ts_at")))).as[Long].head()
        === rows.map(r => r._3.getTime * 1000L).sum)
      // non-laneable types stay loudly rejected
      val e = intercept[Exception](
        spark.sql("CALL run_clustering(table => 'zlane_t', columns => '_key,nope')"))
      assert(msgs(e).contains("unknown clustering column"), msgs(e))
      val e2 = intercept[Exception](
        spark.sql("CALL run_clustering(table => 'zlane_t', columns => 'ts_at,ts_at')"))
      assert(msgs(e2).contains("duplicate"), msgs(e2))
    } finally spark.sql("DROP TABLE zlane_t")
  }

  test("string lane is monotone in UTF-8 prefix order; date lane in day order") {
    // the write path's lane expressions, evaluated standalone
    val strLane = ZOrder.lane(col("s"), org.apache.spark.sql.types.StringType)
    val vals = Seq("", "a", "ab", "abc", "abé", "b", "z", "éa")
    val lanes = vals.toDF("s").select(col("s"), strLane.as("lane"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val byBytes = vals.sortWith((a, b) =>
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0)
    val byLane = vals.sortBy(lanes)
    assert(byLane === byBytes, s"lane order $byLane != byte order $byBytes")
    // date lane: epoch days, trivially monotone; pin the encoding shape
    val d = Seq(java.sql.Date.valueOf("2024-01-01"), java.sql.Date.valueOf("2024-01-02"))
      .toDF("d").select(ZOrder.lane(col("d"), org.apache.spark.sql.types.DateType).cast("long"))
      .as[Long].collect()
    assert(d(1) == d(0) + 1)
  }

  test("a Z-ordered write clusters on a date column") {
    val dir = tempDir("zlane-date-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, zorderBy = Seq("d", "x"))
    val rows = (0 until 64).map(i =>
      (s"k$i", 1L, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 8)),
        (i / 8).toLong))
    lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "d", "x"))
    assert(lt.snapshot.count() === 64)
  }
}
