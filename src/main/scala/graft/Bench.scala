package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main. Emits ONE JSON line:
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Integrity rules:
  *  - a failed query is recorded as `-1` in `queries` and named in
  *    `"errors"` — an exception's elapsed time is never published as a
  *    timing;
  *  - results are fully materialized through the `noop` sink (a bare
  *    `count()` lets Catalyst prune columns and drop sorts, under-measuring
  *    the real query);
  *  - each query runs three times: one warm-up (codegen/JIT; first runs
  *    showed ~45x noise) and two timed runs, publishing the MIN
  *    of the timed runs — this host shows 2-5x run-to-run variance on
  *    identical workloads (noisy neighbor / IO), and min is the standard
  *    noise-robust benchmark statistic.
  *
  * Diagnostics (root-causing host regressions needs data, not timings):
  *  - `"stats"` per query: task-level CPU/GC/shuffle/spill totals over the
  *    three runs, via [[org.apache.spark.graft.BenchProbe]]. GC-heavy =
  *    heap pressure; cpu << run = contention/IO; spill > 0 = memory misfit.
  *  - deterministic storage cleanup between queries: any RDD a query left
  *    persisted (e.g. `localCheckpoint` intermediates pinned until the
  *    ContextCleaner notices) is unpersisted so block-manager occupancy
  *    cannot leak across queries and slow later ones.
  *  - `SPARK_GRAFT_ONLY=q27,q34` runs a comma-separated subset (substring
  *    match), for fast single-query iteration.
  *
  * Self-adjudication (manual contention forensics does not scale): the
  * bench ADJUDICATES ITSELF against the stored build-host
  * stats (`bench_stats_build.json`, or `SPARK_GRAFT_REF_STATS`). A query
  * whose shuffle bytes and task count match the reference within 2% but
  * whose cpu_ms inflates >= 2x ran the SAME plan on a contended host —
  * identical plans over identical data do not change cpu 2x. The JSON
  * carries `"loadavg_start"`/`"loadavg_end"` (/proc/loadavg), per-query
  * contention flags in `"contended_queries"`, and a top-level
  * `"contended": true` when >= 3 carried queries inflate that way, so
  * BASELINE.md adjudication cites the flag instead of hand-diffing stats.
  */
object Bench {

  /** First /proc/loadavg field, or -1 where unavailable. */
  private def loadavg(): Double =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Reference per-query stats (cpu_ms/shuffle/tasks) from the stored
    * build-host bench payload; empty when absent/unreadable.
    */
  private def refStats(path: String): Map[String, Map[String, Long]] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(path))
      val stats = root.get("stats")
      if (stats == null || !stats.isObject) Map.empty
      else {
        val it = stats.fieldNames()
        val out = scala.collection.mutable.Map[String, Map[String, Long]]()
        while (it.hasNext) {
          val q = it.next()
          val node = stats.get(q)
          val fit = node.fieldNames()
          val m = scala.collection.mutable.Map[String, Long]()
          while (fit.hasNext) {
            val f = fit.next()
            if (node.get(f).isNumber) m += f -> node.get(f).asLong()
          }
          out += q -> m.toMap
        }
        out.toMap
      }
    } catch { case _: Throwable => Map.empty }

  /** True when `cur` ran the reference's plan (shuffle bytes and task
    * count within 2%) with cpu_ms inflated >= 2x — the contended-host
    * signature (identical plans over identical data do not change cpu).
    * Sub-500ms reference cpu is noise-dominated and never flags.
    */
  private def contendedVsRef(
      cur: Map[String, Long], ref: Map[String, Long]): Boolean = {
    def close(f: String): Boolean = (cur.get(f), ref.get(f)) match {
      case (Some(a), Some(b)) => math.abs(a - b) <= math.max(a, b) * 0.02
      case _ => false
    }
    (for { c <- cur.get("cpu_ms"); r <- ref.get("cpu_ms") } yield
      r >= 500L && c >= 2L * r &&
        close("shuffle_read_b") && close("shuffle_write_b") && close("tasks")
    ).getOrElse(false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = session(cpus)
    val load0 = loadavg()
    val ref = refStats(sys.env.getOrElse(
      "SPARK_GRAFT_REF_STATS", "bench_stats_build.json"))
    val probe = new org.apache.spark.graft.BenchProbe
    probe.install(spark.sparkContext)
    // Warm the session with a parquet-backed query so the timed loop never
    // pays one-time costs (parquet reader + codegen init, view registration).
    Tables.registerAll(spark, sfDir)
    spark.sql("SELECT sum(l_quantity) FROM lineitem").write
      .format("noop").mode("overwrite").save()
    probe.harvest(spark.sparkContext) // discard warmup task metrics
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSeq)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.contains)))
    val results = names.map { name =>
      val fn = SparkEntry.queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val outcome =
        try { once(); Right(math.min(once(), once())) } // warm-up, then min of 2
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            Left(e.getClass.getSimpleName)
        }
      // Unpersist anything the query left in the block manager (method-local
      // localCheckpoints are otherwise pinned until GC + ContextCleaner):
      // accumulated blocks from 50 queries x 3 runs would evict/gc-thrash
      // later queries in the 8g bench heap.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      name -> (outcome, probe.harvest(spark.sparkContext))
    }
    // The driver captures only the LAST ~2000 chars of bench output and
    // parses the {"metric":...} line out of that window (BENCH_r07 came back
    // `parsed:null` because the line, bloated by inline per-query stats,
    // overflowed it). So: full payload (long names + task stats) goes to
    // bench_stats.json on disk and to an early stdout line, and the line the
    // driver parses is a compact one printed LAST — short query keys
    // ("q46" for "q46_dedup_incremental"), 2-decimal timings — which keeps
    // it ~700 chars even at 51 queries.
    def fmt(sec: Double): String = f"$sec%.2f"
    def queriesJson(short: Boolean) = results.map {
      case (k, (out, _)) =>
        val key = if (short) k.takeWhile(_ != '_') else k
        s""""$key":${out.fold(_ => "-1", fmt)}"""
    }.mkString("{", ",", "}")
    val stats = results.map { case (k, (_, st)) =>
      s""""$k":{${st.toSeq.sortBy(_._1).map { case (m, v) => s""""$m":$v""" }.mkString(",")}}"""
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, (Left(e), _)) => s""""$k":"$e"""" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, (Right(s), _)) => s }.sum
    val nOk = results.count(_._2._1.isRight)
    // Self-adjudication vs the stored build-host stats: identical
    // shuffle + tasks with >= 2x cpu inflation = contended host, not plan.
    val contendedQ = results.collect {
      case (k, (_, st)) if ref.get(k).exists(contendedVsRef(st, _)) => k
    }
    val load1 = loadavg()
    val contended = contendedQ.size >= 3
    val contendedJson = contendedQ.map(q => s""""$q"""").mkString("[", ",", "]")
    def fmtL(d: Double): String = f"$d%.2f"
    val adjud =
      s""""loadavg_start":${fmtL(load0)},"loadavg_end":${fmtL(load1)},""" +
        s""""contended":$contended,"contended_queries":$contendedJson"""
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queriesJson(short = false)},""" +
        s""""errors":$errs,"stats":$stats,$adjud,"n_ok":$nOk,"n_total":${names.size},"sf":"$sfDir"}"""
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_stats.json"),
        fullLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // stats file is best-effort
    println(fullLine) // early line: full detail for humans reading the log
    // The compact driver-parsed line must be the process's LAST output
    // (the streaming state-store maintenance thread once raced
    // spark.stop() and dumped an RpcEnvStoppedException stack AFTER the
    // metric line, pushing it out of the driver's ~2000-char tail window).
    // So: silence logging, stop leftover streams, stop the state-store
    // maintenance thread, stop Spark, let async shutdown loggers drain,
    // and only THEN print the compact line.
    try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
    spark.streams.active.foreach(q => try q.stop() catch { case _: Throwable => () })
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    Thread.sleep(500) // drain any in-flight appender writes
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":${queriesJson(short = true)},""" +
        s""""errors":$errs,"contended":$contended,"n_ok":$nOk,"n_total":${names.size},"sf":"$sfDir"}""")
    System.out.flush()
    if (nOk < names.size) sys.exit(1)
  }

  /** The local session Bench, Verify and QProbe run queries in, on `cpus`
    * cores.
    */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // native SQL functions + the MERGE INTO post-hoc rule (q102)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores TIMESTAMP(NANOS); read as BIGINT nanos.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Split small parquet files across cores: at bench scale every table
      // is a single <=10MB file = one input split otherwise (size
      // maxPartitionBytes to the SF, per the scale playbook).
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
