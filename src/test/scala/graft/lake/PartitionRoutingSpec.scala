package graft.lake

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.BenchProbe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A partition value that drifts between evaluations: the row's own value
  * for the first `honest` calls in this JVM, then "c". Lives in an object
  * so every task of the local session shares one counter.
  */
object DriftingRegion {
  private val calls = new AtomicLong
  @volatile private var honest = 0L

  def reset(honestCalls: Long): Unit = { calls.set(0); honest = honestCalls }

  val udfCol = udf((r: String) => if (calls.incrementAndGet() <= honest) r else "c")
    .asNondeterministic()
}

/** Partitioned writes route every row through one collect and one staging
  * step: a multi-target batch dispatches by the rows it staged, a
  * single-target batch asserts its rows still carry the routed partition,
  * and each routing collect is one Spark job.
  */
class PartitionRoutingSpec extends SparkSpec {
  import spark.implicits._

  private def rows(pt: PartitionedLakeTable): Seq[(String, String)] =
    pt.snapshot.select(LakeTable.KeyCol, "region").as[(String, String)]
      .collect().toSeq.sorted

  /** `n` rows k0..k(n-1) whose region comes from `region(id)` through the
    * drifting udf.
    */
  private def drifting(n: Int)(region: org.apache.spark.sql.Column): DataFrame =
    spark.range(0, n, 1, 2).select(
      concat(lit("k"), col("id")).as(LakeTable.KeyCol),
      lit(1L).as(LakeTable.TsCol),
      DriftingRegion.udfCol(region).as("region"))

  test("a multi-target batch whose partition value drifts lands where its staged rows say") {
    val pt = new PartitionedLakeTable(
      spark, tempDir("route-drift-").resolve("t").toString, "region", numBuckets = 2)
    val n = 8
    // routing pass sees regions a and b; the staged rows all say c
    val batch = drifting(n)(when(col("id") % 2 === 0, "a").otherwise("b"))
    DriftingRegion.reset(n)
    pt.upsert(batch)
    assert(pt.partitions === Seq("c"))
    assert(rows(pt) === (0 until n).map(i => (s"k$i", "c")).sorted)
  }

  test("a single-target batch whose partition value drifts fails and commits nothing") {
    val pt = new PartitionedLakeTable(
      spark, tempDir("route-drift1-").resolve("t").toString, "region", numBuckets = 2)
    pt.upsert(Seq(("k0", 0L, "a")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "region"))
    val before = rows(pt)
    val versions = pt.currentVersions
    val n = 8
    // routing pass sees region a only; the commit's evaluation says c
    val batch = drifting(n)(lit("a"))
    DriftingRegion.reset(n)
    val e = intercept[Exception](pt.upsert(batch))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("partition values must be deterministic"), msgs)
    assert(rows(pt) === before)
    assert(pt.currentVersions === versions)
    assert(pt.partitions === Seq("a"))
  }

  test("a single-target upsert over a join commits although its dropped rows name another partition") {
    val pt = new PartitionedLakeTable(
      spark, tempDir("route-join-").resolve("t").toString, "region", numBuckets = 2)
    pt.upsert(Seq(("k2", 0L, "b")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "region"))
    val source = Seq(("k1", 1L, "a"), ("k2", 1L, "b"), ("k3", 1L, "c"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "region")
    // the new keys only: k2 exists in b and the inner join keeps only a,
    // so the batch routes to partition a alone
    val fresh = source
      .join(pt.snapshot.select(LakeTable.KeyCol), Seq(LakeTable.KeyCol), "left_anti")
      .join(Seq("a").toDF("region"), Seq("region"))
    pt.upsert(fresh)
    assert(pt.partitions === Seq("a", "b"))
    assert(rows(pt) === Seq(("k1", "a"), ("k2", "b")))
  }

  test("routing collects run one Spark job each") {
    val pt = new PartitionedLakeTable(
      spark, tempDir("route-jobs-").resolve("t").toString, "region", numBuckets = 2)
    pt.upsert(Seq(("k1", 1L, "a"), ("k2", 1L, "b"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "region"))
    val versions = pt.currentVersions
    val sc = spark.sparkContext
    val probe = new BenchProbe
    probe.install(sc)
    try {
      probe.harvest(sc)
      // keys naming only partitions that were never written: one routing
      // job, nothing dispatched
      pt.deleteRouted(Seq(("k1", "x"), ("k2", "y")).toDF(LakeTable.KeyCol, "region"))
      assert(probe.harvest(sc)("jobs") === 1L)
      assert(pt.currentVersions === versions)
      val values = pt.partitionValues(
        Seq(("k1", "a"), ("k2", "b"), ("k3", "c"), ("k4", "a"))
          .toDF(LakeTable.KeyCol, "region"))
      assert(probe.harvest(sc)("jobs") === 1L)
      assert(values === Seq("a", "b", "c"))
    } finally sc.removeSparkListener(probe)
  }
}
