package graft.util

import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._

/** Bounded driver-side fan-out. Spark schedules jobs from concurrent
  * driver threads, so independent per-table / per-partition / per-file
  * work runs on a fixed pool and its count, not its order, drives wall
  * clock.
  */
object DriverPool {
  /** Run every task on a fixed pool of `threads` threads (at least one)
    * and return the results in task order. Waits for all tasks; the
    * first failing task, in task order, rethrows as the
    * `ExecutionException` wrapping its cause.
    */
  def runAll[T](threads: Int, tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads.max(1))
    try pool.invokeAll(tasks.map(t => new Callable[T] { def call(): T = t() }).asJava)
      .asScala.map(_.get()).toSeq
    finally pool.shutdown()
  }
}
