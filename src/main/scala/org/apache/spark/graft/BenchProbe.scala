package org.apache.spark.graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query task-metric aggregation for `graft.Bench`.
  *
  * A timing alone cannot distinguish "the plan got slower" from "the host
  * got slower" (GC pressure, disk contention, noisy neighbor) — exactly the
  * ambiguity that left round 5's q27 regression unexplained. This listener
  * accumulates the task-level counters that tell those cases apart: CPU vs
  * wall run time (contention), GC time (heap pressure), shuffle and spill
  * bytes (plan shape / memory fit). It also counts job starts: `jobs` in
  * total, and `jobs.lake:<phase>` for the jobs `LakeTable` runs under a
  * `lake:<phase>` job description (affected, write, bloom-build, stats).
  *
  * Lives under `org.apache.spark` only for `listenerBus.waitUntilEmpty`
  * (the accessor is `private[spark]`); everything recorded comes from the
  * public `SparkListener` API.
  */
class BenchProbe extends SparkListener {
  private val runMs, cpuNanos, gcMs, shufReadB, shufWriteB, spillB, tasks, jobs = new LongAdder
  private val lakeJobs = new ConcurrentHashMap[String, LongAdder]()

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobs.add(1)
    Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(_.startsWith("lake:"))
      .foreach(d => lakeJobs.computeIfAbsent(d.takeWhile(_ != ' '), _ => new LongAdder).add(1))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      tasks.add(1)
      runMs.add(m.executorRunTime)
      // accumulate NANOS: per-task ms truncation would zero out the many
      // sub-millisecond tasks the 4 MB-split bench runs, making CPU-bound
      // queries look like pure scheduling overhead
      cpuNanos.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shufReadB.add(m.shuffleReadMetrics.totalBytesRead)
      shufWriteB.add(m.shuffleWriteMetrics.bytesWritten)
      spillB.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Drain the listener bus, then snapshot-and-reset all counters. */
  def harvest(sc: SparkContext): Map[String, Long] = {
    BenchProbe.drain(sc)
    val out = Map(
      "tasks" -> tasks.sumThenReset(),
      "run_ms" -> runMs.sumThenReset(),
      "cpu_ms" -> cpuNanos.sumThenReset() / 1000000L,
      "gc_ms" -> gcMs.sumThenReset(),
      "shuffle_read_b" -> shufReadB.sumThenReset(),
      "shuffle_write_b" -> shufWriteB.sumThenReset(),
      "spill_b" -> spillB.sumThenReset(),
      "jobs" -> jobs.sumThenReset())
    out ++ lakeJobs.asScala.map { case (l, n) => s"jobs.$l" -> n.sumThenReset() }.filter(_._2 > 0)
  }

  def install(sc: SparkContext): Unit = sc.addSparkListener(this)
}

object BenchProbe {
  /** Drain the shared listener bus (QueryExecutionListener events ride the
    * same bus) — lets tests observe asynchronously-delivered plans.
    */
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
