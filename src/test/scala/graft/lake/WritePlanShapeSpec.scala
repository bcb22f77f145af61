package graft.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Pins the commit write's plan shape: the LWW aggregate runs on the
  * write's bucket layout and outputs `_key` as its grouping attribute, so
  * Spark's EnsureRequirements drops the write's own repartition and a
  * commit shuffles the written rows once. Each commit's executed write
  * plan is captured with a QueryExecutionListener.
  */
class WritePlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val numBuckets = 4

  private def batch(n: Int, ts: Long): DataFrame =
    (0 until n).map(i => (s"k$i", ts, s"v$i-$ts"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload")

  /** Runs `commit` and returns the executed plan of its data write into `dir`. */
  private def writePlan(dir: String)(commit: => Unit): SparkPlan = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        collectFirst(qe.executedPlan) {
          case w: DataWritingCommandExec => w
        }.foreach { w =>
          w.cmd match {
            case c: InsertIntoHadoopFsRelationCommand
                if c.outputPath.toString.contains(dir) => plans.add(w.child)
            case _ =>
          }
        }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      commit
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one commit write into $dir, captured ${plans.size}")
    plans.peek()
  }

  private def hashShuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[HashPartitioning] => s
    }

  /** Parquet files per bucket dir of the newest commit's data dir. */
  private def filesPerBucketDir(dir: String): Seq[Int] = {
    val data = java.nio.file.Paths.get(dir, LakeTable.DataDirName)
    val newest = java.nio.file.Files.list(data).iterator().asScala.toSeq
      .maxBy(_.getFileName.toString)
    java.nio.file.Files.list(newest).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith(s"${LakeTable.BucketCol}="))
      .map(b => java.nio.file.Files.list(b).iterator().asScala
        .count(_.getFileName.toString.endsWith(".parquet")))
  }

  private def assertOneShuffle(plan: SparkPlan): Unit = {
    val shuffles = hashShuffles(plan)
    assert(shuffles.size == 1,
      s"commit write must hash-shuffle its rows once, got ${shuffles.size}:\n$plan")
  }

  for (fpb <- Seq(1, 3)) test(s"upsert at filesPerBucket=$fpb shuffles the written rows once") {
    val dir = tempDir(s"lake-plan-fpb$fpb-").toString
    val lt = new LakeTable(spark, dir, numBuckets = numBuckets, filesPerBucket = fpb)
    assertOneShuffle(writePlan(dir)(lt.upsert(batch(2000, 1L))))
    // the second commit merges against stored buckets
    assertOneShuffle(writePlan(dir)(lt.upsert(batch(2000, 2L))))
    val files = filesPerBucketDir(dir)
    assert(files.size == numBuckets && files.forall(n => n >= 1 && n <= fpb),
      s"every bucket dir must hold 1..$fpb files, got $files")
    assert(lt.snapshot.count() == 2000)
  }

  test("merge with a small delete set broadcasts the deletes and shuffles once") {
    val dir = tempDir("lake-plan-merge-").toString
    val lt = new LakeTable(spark, dir, numBuckets = numBuckets)
    lt.upsert(batch(2000, 1L))
    val deletes = (0 until 50).map(i => s"k$i").toDF(LakeTable.KeyCol)
    assertOneShuffle(writePlan(dir)(lt.merge(batch(300, 2L).filter($"_key" =!= "k0"), deletes)))
    assert(filesPerBucketDir(dir).forall(_ == 1))
    assert(lt.snapshot.count() == 1950)
  }

  test("merge with a shuffle-join delete keeps the write's repartition and the layout") {
    val dir = tempDir("lake-plan-merge-smj-").toString
    val lt = new LakeTable(spark, dir, numBuckets = numBuckets)
    lt.upsert(batch(2000, 1L))
    val deletes = (0 until 50).map(i => s"k$i").toDF(LakeTable.KeyCol)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val plan =
      try writePlan(dir)(lt.merge(batch(300, 2L), deletes))
      finally saved match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    // the aggregate's layout repartition plus the write's own
    val byNum = hashShuffles(plan).filter(_.shuffleOrigin == REPARTITION_BY_NUM)
    assert(byNum.size == 2, s"the write must keep its repartition after a shuffle join:\n$plan")
    val files = filesPerBucketDir(dir)
    assert(files.size == numBuckets && files.forall(_ == 1),
      s"fpb=1 must leave one file per bucket dir, got $files")
    assert(lt.snapshot.count() == 1950)
  }
}
