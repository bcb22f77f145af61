package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graft.BenchProbe
import org.apache.spark.scheduler._

/** One Spark job as the listener bus reported it. `batch` is the streaming
  * batch id the job ran under (-1 outside a micro-batch); `span` is the
  * benchmark's own span tag for jobs started by a read probe.
  */
final case class JobRec(id: Int, cls: String, batch: Long, span: String, desc: String, start: Long) {
  @volatile var end: Long = -1L
  @volatile var ok: Boolean = true
}

/** Job-span listener for the traced run.
  *
  * Each job is classified once, at job start, from the local properties it
  * was submitted with:
  *  - `lake.listing`: Spark's "Listing leaf files" jobs (file-index listing);
  *  - `lake.<phase>`: jobs under a `lake:<phase>` description, the labels
  *    `LakeTable` sets around its commit phases (affected, write, bloom,
  *    stats);
  *  - `cdc`: every other job inside a micro-batch (envelope parse, metas
  *    collect, staging, the merge aggregation feeding the write);
  *  - the read probe's span tag (`read.scan`, ...) for jobs outside batches.
  *
  * Task totals per class come from one [[BenchProbe]] per class: task-end
  * events are routed to the probe of the job that owns the stage.
  */
final class JobSpans extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val probes = new ConcurrentHashMap[String, BenchProbe]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String): Option[String] = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val batch = prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L)
    val span = prop(JobSpans.SpanProp).getOrElse("")
    val desc = prop("spark.job.description").getOrElse("")
    val cls = JobSpans.classify(desc, prop("callSite.short").getOrElse(""), batch, span)
    jobs.put(e.jobId, JobRec(e.jobId, cls, batch, span, desc, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val cls = Option(stageJob.get(t.stageId)).flatMap(id => Option(jobs.get(id.intValue)))
      .map(_.cls).getOrElse("other")
    probes.computeIfAbsent(cls, _ => new BenchProbe).onTaskEnd(t)
  }

  /** Drain the bus, then per-class task totals since the previous call. */
  def harvest(sc: SparkContext): Map[String, Map[String, Long]] = {
    BenchProbe.drain(sc)
    probes.asScala.toMap.map { case (cls, p) => cls -> p.harvest(sc) }
  }

  def jobsOfBatch(batch: Long): Seq[JobRec] =
    jobs.values.asScala.filter(_.batch == batch).toSeq.sortBy(_.id)

  def jobsOfSpan(span: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.span == span).toSeq.sortBy(_.id)
}

object JobSpans {
  /** Local property the benchmark sets around a read probe. */
  val SpanProp = "perfbench.span"

  val LakePhases: Seq[String] = Seq("affected", "write", "bloom", "stats")

  def classify(desc: String, callSite: String, batch: Long, span: String): String =
    if (desc.startsWith("Listing leaf files") || callSite.startsWith("Listing")) "lake.listing"
    else if (desc.startsWith("lake:")) {
      val phase = desc.stripPrefix("lake:").takeWhile(_ != ' ')
      "lake." + (if (phase.startsWith("bloom")) "bloom" else phase)
    } else if (batch >= 0) "cdc"
    else if (span.nonEmpty) span.takeWhile(_ != '#')
    else "other"

  /** Total length of the union of the jobs' [start, end] intervals. */
  def covered(js: Seq[JobRec]): Long = {
    val iv = js.filter(_.end >= 0).map(j => (j.start, j.end)).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
