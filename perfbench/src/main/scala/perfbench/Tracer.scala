package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import CdcBench.{jstr, mean, median, ms}

/** Traced-run bookkeeping: job spans, FS counts and table-directory
  * deltas per micro-batch, kept in memory and written at exit.
  */
final class Tracer(spark: SparkSession, workload: String, seed: Long, cores: Int, tablesRoot: String) {
  private val sc = spark.sparkContext
  private val jobs = new JobSpans
  sc.addSparkListener(jobs)
  private val batches = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val spans = mutable.ArrayBuffer.empty[String]
  private var ioBefore = CountingFileSystem.snapshot()
  private var filesBefore = TableDir.files(tablesRoot)
  private var logsBefore = TableDir.commitLogs(tablesRoot)
  private val lat = mutable.ArrayBuffer.empty[Double]
  private val t0Ms = System.currentTimeMillis()

  private def span(id: String, parent: String, name: String, start: Double, end: Double, attrs: Map[String, Any]): Unit = {
    val a = attrs.toSeq.sortBy(_._1).map {
      case (k, v: String) => s""""$k": ${jstr(v)}"""
      case (k, v: Double) => s""""$k": ${if (v.isNaN) "null" else v.toString}"""
      case (k, v) => s""""$k": $v"""
    }
    spans += (Seq(s""""id": ${jstr(id)}""", s""""parent": ${jstr(parent)}""", s""""name": ${jstr(name)}""",
      s""""start_ms": $start""", s""""end_ms": $end""") ++ a).mkString("{", ", ", "}")
  }

  def beforeBatch(): Unit = {
    jobs.harvest(sc) // drop task totals of anything that ran between batches
    ioBefore = CountingFileSystem.snapshot()
    filesBefore = TableDir.files(tablesRoot)
    logsBefore = TableDir.commitLogs(tablesRoot)
  }

  def afterBatch(q: StreamingQuery, timed: Boolean, latencyMs: Double): Unit = {
    val task = jobs.harvest(sc)
    val io = CountingFileSystem.snapshot().zip(ioBefore).map { case (a, b) => a - b }
    val files = TableDir.files(tablesRoot)
    val logs = TableDir.commitLogs(tablesRoot)
    val prog = q.recentProgress.filter(p => p.durationMs.containsKey("addBatch")).lastOption
    val batchId = prog.map(_.batchId).getOrElse(-1L)
    val dur = prog.map(_.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap).getOrElse(Map.empty)
    val addBatch = dur.getOrElse("addBatch", Double.NaN)
    val trigger = dur.getOrElse("triggerExecution", Double.NaN)
    val js = jobs.jobsOfBatch(batchId)
    val gap = math.max(0.0, addBatch - JobSpans.covered(js))
    val newFiles = files.filter { case (f, _) => !filesBefore.contains(f) }
    val rewritten = logs.toSeq.map { case (log, (_, layout)) =>
      val before = logsBefore.get(log).map(_._2).getOrElse(Map.empty)
      layout.count { case (b, v) => !before.get(b).contains(v) }
    }.sum
    val versions = logs.toSeq.map { case (log, (n, _)) => n - logsBefore.get(log).map(_._1).getOrElse(0) }.sum

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("stream.overhead_ms") = trigger - addBatch
    m("sources.add_batch_ms") = addBatch
    Tracer.JobClasses.foreach { c =>
      val mine = js.filter(_.cls == c)
      val t = task.getOrElse(c, Map.empty)
      m(s"$c.jobs") = mine.size
      m(s"$c.job_ms") = mine.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).sum
      m(s"$c.cpu_ms") = t.getOrElse("cpu_ms", 0L).toDouble
      m(s"$c.shuffle_b") = t.getOrElse("shuffle_write_b", 0L).toDouble
    }
    val listing = js.filter(_.cls == "lake.listing")
    m("lake.listing.jobs") = listing.size
    m("lake.listing.job_ms") = listing.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).sum
    m("driver.gap_ms") = gap
    CountingFileSystem.Names.zip(io).foreach { case (k, v) => m(s"lake.io.$k") = v.toDouble }
    m("lake.files_written") = newFiles.size
    m("lake.bytes_written") = newFiles.values.sum.toDouble
    m("lake.buckets_rewritten") = rewritten
    m("lake.versions") = versions
    if (timed) { batches += m.toMap; lat += latencyMs }

    // spans: batch -> addBatch -> jobs; times relative to the run start
    val now = System.currentTimeMillis()
    val trigStart = prog.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli).getOrElse(now)
    val trigEnd = trigStart + trigger
    val abEnd = trigEnd - dur.getOrElse("commitOffsets", 0.0) - dur.getOrElse("commitBatch", 0.0)
    val bid = s"batch-$batchId"
    span(bid, "workload", "batch", trigStart - t0Ms, trigEnd - t0Ms,
      Map("batch_id" -> batchId, "timed" -> timed, "latency_ms" -> latencyMs,
        "table_versions" -> logs.values.map(_._1).sum) ++
        m.toMap.filter(_._1.startsWith("lake.io.")))
    span(s"$bid/addBatch", bid, "addBatch", abEnd - addBatch - t0Ms, abEnd - t0Ms,
      Map("driver_gap_ms" -> gap, "start_estimated" -> true))
    js.foreach(j => span(s"job-${j.id}", s"$bid/addBatch", j.cls, (j.start - t0Ms).toDouble,
      (j.end - t0Ms).toDouble, Map("ok" -> j.ok, "description" -> j.desc.take(80))))
  }

  def readSpan(tag: String, kind: String, table: String, t0: Long, t1: Long, t2: Long): Unit = {
    org.apache.spark.graft.BenchProbe.drain(sc)
    val base = System.currentTimeMillis() - (System.nanoTime() - t0) / 1e6 - t0Ms
    span(tag, "workload", kind, base, base + ms(t0, t2),
      Map("table" -> table, "plan_ms" -> ms(t0, t1), "exec_ms" -> ms(t1, t2)))
    jobs.jobsOfSpan(tag).foreach(j => span(s"job-${j.id}", tag, j.cls, (j.start - t0Ms).toDouble,
      (j.end - t0Ms).toDouble, Map("ok" -> j.ok)))
  }

  /** Per-batch metrics as means over the timed batches, then the traced
    * run's own batch median.
    */
  def perLayer: Seq[(String, Double, String)] = {
    def unit(k: String) =
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("_b") || k.endsWith("bytes_written")) "bytes" else "count"
    Tracer.BatchMetrics.map(k => (k, mean(batches.map(_.getOrElse(k, 0.0)).toSeq), unit(k))) :+
      (("trace.batch_p50_ms", median(lat.toSeq), "ms"))
  }

  def close(spansFile: Option[String]): Unit = spansFile.foreach { f =>
    val p = Paths.get(f)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val head = s"""{"id": "workload", "parent": "", "name": ${jstr(workload)}, "start_ms": 0, """ +
      s""""end_ms": ${System.currentTimeMillis() - t0Ms}, "seed": $seed, "cores": $cores}"""
    Files.write(p, (head +: spans.toSeq).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  /** Job classes reported with jobs, job time, task CPU and shuffle bytes. */
  val JobClasses: Seq[String] = "cdc" +: JobSpans.LakePhases.map("lake." + _)

  /** Per-batch metric names, in report order. */
  val BatchMetrics: Seq[String] =
    Seq("stream.overhead_ms", "sources.add_batch_ms") ++
      JobClasses.flatMap(c => Seq(s"$c.jobs", s"$c.job_ms", s"$c.cpu_ms", s"$c.shuffle_b")) ++
      Seq("lake.listing.jobs", "lake.listing.job_ms", "driver.gap_ms") ++
      CountingFileSystem.Names.map("lake.io." + _) ++
      Seq("lake.files_written", "lake.bytes_written", "lake.buckets_rewritten", "lake.versions")
}
