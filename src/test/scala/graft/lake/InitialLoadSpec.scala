package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** r21 initial-load fast path: the fresh partitions of a batch are
  * written in ONE cross-partition job and adopted as per-partition v1
  * commits — state, LWW semantics, idempotency, listing, and the
  * dropped-partition tombstone contract must all be indistinguishable
  * from the per-partition slow path.
  */
class InitialLoadSpec extends SparkSpec {
  import spark.implicits._

  private def rows(n: Int) = spark.range(0, n)
    .select(
      concat(lit("k"), col("id") % 40).as(LakeTable.KeyCol), // in-batch dup keys
      (col("id") % 7).as(LakeTable.TsCol),
      concat(lit("p"), col("id") % 5).as("p"),
      col("id").as("payload"))

  test("fresh-partition fast path equals the per-partition slow path state") {
    val fastDir = tempDir("il-fast-").resolve("t").toString
    val slowDir = tempDir("il-slow-").resolve("t").toString
    // slow twin: blooms ON disables the fast path, but sidecars don't
    // change visible state — LWW winners must agree exactly
    val fast = new PartitionedLakeTable(spark, fastDir, "p", numBuckets = 4,
      bloomOnWrite = false)
    val slow = new PartitionedLakeTable(spark, slowDir, "p", numBuckets = 4,
      bloomOnWrite = true)
    fast.upsert(rows(200), commitId = "b1")
    slow.upsert(rows(200), commitId = "b1")
    def state(t: PartitionedLakeTable) = t.snapshot
      .select(LakeTable.KeyCol, LakeTable.TsCol, "p", "payload")
      .as[(String, Long, String, Long)].collect().sortBy(r => (r._3, r._1)).toSeq
    assert(state(fast) === state(slow))
    // every partition committed exactly v1 with the scoped commitId
    assert(fast.partitions.sorted === slow.partitions.sorted)
    fast.partitions.foreach { v =>
      assert(fast.partitionTable(v).latestVersion === Some(1L))
      assert(fast.partitionTable(v).isCommitted("b1:p=" + v))
    }
  }

  test("fresh-partition fast path breaks same-key same-_ts ties like the slow path") {
    // Each key's five rows share one partition and one `_ts` and differ in
    // payload, so only the content-hash tie-break picks the winner; the
    // map column takes the hash's to_json lane.
    val tied = spark.range(0, 200).select(
      concat(lit("k"), col("id") % 40).as(LakeTable.KeyCol),
      (col("id") % 40 % 3).as(LakeTable.TsCol),
      concat(lit("p"), col("id") % 5).as("p"),
      col("id").as("payload"),
      map(lit("id"), col("id")).as("attrs"))
    val fast = new PartitionedLakeTable(spark,
      tempDir("il-tie-fast-").resolve("t").toString, "p", numBuckets = 4,
      bloomOnWrite = false)
    val slow = new PartitionedLakeTable(spark,
      tempDir("il-tie-slow-").resolve("t").toString, "p", numBuckets = 4,
      bloomOnWrite = true)
    fast.upsert(tied, commitId = "b1")
    slow.upsert(tied, commitId = "b1")
    def state(t: PartitionedLakeTable) = t.snapshot
      .select(col(LakeTable.KeyCol), col(LakeTable.TsCol), col("p"), col("payload"),
        col("attrs")("id"))
      .as[(String, Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    val got = state(fast)
    assert(got.size === 40)
    assert(got.forall(r => r._4 == r._5)) // one winning row, not a column mix
    assert(got === state(slow))
  }

  test("replayed commitId is a no-op; later upserts merge on top") {
    val dir = tempDir("il-replay-").resolve("t").toString
    val t = new PartitionedLakeTable(spark, dir, "p", numBuckets = 4,
      bloomOnWrite = false)
    t.upsert(rows(200), commitId = "b1")
    val v1 = t.currentVersions
    t.upsert(rows(200), commitId = "b1") // replay: nothing changes
    assert(t.currentVersions === v1)
    // a second batch takes the NORMAL path (partitions now committed)
    t.upsert(rows(60).withColumn("payload", col("payload") + 1000)
      .withColumn(LakeTable.TsCol, lit(100L)), commitId = "b2")
    assert(t.partitions.forall(v => t.partitionTable(v).latestVersion === Some(2L)))
    val afterB2 = t.snapshot.filter(col(LakeTable.TsCol) === 100L).count()
    assert(afterB2 === 40L) // 60 rows, 40 distinct keys, all ts=100 winners
  }

  test("mixed batch: existing partitions slow-path, fresh partitions adopt") {
    val dir = tempDir("il-mixed-").resolve("t").toString
    val t = new PartitionedLakeTable(spark, dir, "p", numBuckets = 4,
      bloomOnWrite = false)
    // pre-commit ONE partition
    t.upsert(rows(200).filter(col("p") === "p1"), commitId = "seed")
    t.upsert(rows(200), commitId = "b1")
    assert(t.partitions.toSet === Set("p0", "p1", "p2", "p3", "p4"))
    assert(t.partitionTable("p1").latestVersion === Some(2L)) // merged on top
    assert(t.partitionTable("p0").latestVersion === Some(1L)) // adopted
    // state equals plain LWW over the union
    val expect = rows(200)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("p", LakeTable.KeyCol)
          .orderBy(col(LakeTable.TsCol).desc, col("payload").desc)))
      .filter(col("rn") === 1).count()
    // ties broken by content hash, not payload — just compare key counts
    assert(t.snapshot.count() === rows(200).select("p", LakeTable.KeyCol)
      .distinct().count())
    assert(expect > 0) // sanity: the oracle side is non-degenerate
  }

  test("a dropped partition reborn through the fast path clears its tombstone") {
    val dir = tempDir("il-tomb-").resolve("t").toString
    val t = new PartitionedLakeTable(spark, dir, "p", numBuckets = 4,
      bloomOnWrite = false)
    t.upsert(rows(200), commitId = "b1")
    t.dropPartitions(Seq("p2"))
    assert(!t.partitions.contains("p2"))
    t.upsert(rows(200), commitId = "b2") // p2 fresh again -> fast path
    assert(t.partitions.contains("p2"))
    assert(t.snapshot.filter(col("p") === "p2").count() > 0)
  }

  test("slashy single-column values survive the leaf-dir escape round-trip") {
    val dir = tempDir("il-slash-").resolve("t").toString
    val t = new PartitionedLakeTable(spark, dir, "p", numBuckets = 2,
      bloomOnWrite = false)
    val df = spark.range(0, 20).select(
      concat(lit("k"), col("id")).as(LakeTable.KeyCol),
      lit(1L).as(LakeTable.TsCol),
      when(col("id") % 2 === 0, lit("a/b c")).otherwise(lit("x=y%z")).as("p"),
      col("id").as("payload"))
    t.upsert(df, commitId = "b1")
    assert(t.partitions.toSet === Set("a/b c", "x=y%z"))
    assert(t.snapshot.count() === 20)
    assert(t.snapshot.filter(col("p") === "a/b c").count() === 10)
  }

  test("composite layouts adopt on the joined identity") {
    val dir = tempDir("il-comp-").resolve("t").toString
    val t = new PartitionedLakeTable(spark, dir, "a,b", numBuckets = 2,
      bloomOnWrite = false)
    val df = spark.range(0, 40).select(
      concat(lit("k"), col("id")).as(LakeTable.KeyCol),
      lit(1L).as(LakeTable.TsCol),
      concat(lit("r"), col("id") % 2).as("a"),
      (col("id") % 3).cast("string").as("b"),
      col("id").as("payload"))
    t.upsert(df, commitId = "b1")
    assert(t.partitions.size === 6)
    assert(t.partitions.forall(v => t.partitionTable(v).latestVersion === Some(1L)))
    assert(t.snapshot.count() === 40)
    assert(t.snapshot(Seq("r1/2")).count() ===
      df.filter(col("a") === "r1" && col("b") === "2").count())
  }
}
