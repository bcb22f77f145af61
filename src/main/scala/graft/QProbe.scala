package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Per-JOB breakdown of one bench query: runs a
  * named SparkEntry query under the bench session confs and logs every
  * Spark job's wall time, task count, and first stage name — the data the
  * aggregate BenchProbe stats can't show (WHICH of a lifecycle query's
  * many jobs carry the time). Diagnostic main, never on the bench path.
  *
  *   sbt "runMain graft.QProbe q113_lake_sql_composite_part [sfDir] [cpus]"
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProbe <queryName> [sfDir] [cpus]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val cpus = if (args.length > 2) args(2) else "32"
    val spark = Bench.session(cpus)
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int, String, Int)]()
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // stageId -> (cpuMs, executedTasks), attributed to the stage's first job
    val stageCpu = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tasks = j.stageInfos.map(_.numTasks).sum
        j.stageInfos.foreach(si => stageJob.putIfAbsent(si.stageId, j.jobId))
        val desc = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))
            .orElse(Option(p.getProperty("callSite.short"))))
          .getOrElse(j.stageInfos.headOption.map(_.name).getOrElse("?"))
        starts.put(j.jobId, (System.nanoTime(), tasks, desc.take(140), j.stageInfos.length))
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) stageCpu.merge(
          t.stageId, (t.taskMetrics.executorCpuTime / 1000000L, 1),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = starts.remove(j.jobId)
        if (s != null) {
          val ms = (System.nanoTime() - s._1) / 1e6
          import scala.jdk.CollectionConverters._
          val cpu = stageJob.asScala.collect {
            case (sid, jid) if jid == j.jobId =>
              Option(stageCpu.get(sid)).map(_._1).getOrElse(0L)
          }.sum
          val ran = stageJob.asScala.collect {
            case (sid, jid) if jid == j.jobId =>
              Option(stageCpu.get(sid)).map(_._2).getOrElse(0)
          }.sum
          lines.add(
            f"JOB ${j.jobId}%4d ${ms}%9.1f ms ${cpu}%7d cpums ${ran}%5d ran ${s._2}%6d tasks ${s._4}%3d stages  ${s._3}")
        }
      }
    })
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT sum(l_quantity) FROM lineitem").write
      .format("noop").mode("overwrite").save()
    val fn = SparkEntry.queries(name)
    // warm-up run (codegen/JIT), then the measured run
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    lines.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    val wall = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graft.BenchProbe.drain(spark.sparkContext) // trailing job-end events
    val all = lines.toArray(Array.empty[String])
    all.foreach(println)
    val totalTasks = all.map(_.split("\\s+tasks")(0).split("\\s+").last.toInt).sum
    println(f"QPROBE $name wall=$wall%.2f s jobs=${all.length} tasks=$totalTasks")
    spark.stop()
  }
}
