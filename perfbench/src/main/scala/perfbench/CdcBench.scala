package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.lake.LakeTable

/** A table of a workload: its name, whether it is partitioned on
  * `region`, and its own sink options (option suffix -> value).
  */
final case class TableSpec(name: String, partitioned: Boolean, extra: Map[String, String] = Map.empty)

/** Workload shape. `rowsPerTable` change rows go to every table in every
  * micro-batch; `warmup` batches run untimed first; the read probe after the
  * stream runs on `readTable`.
  */
final case class Workload(
    name: String,
    tables: Seq[TableSpec],
    preloadRows: Int,
    rowsPerTable: Int,
    envRows: Int,
    buckets: Int,
    warmup: Int,
    readTable: String)

object Workload {
  val all: Map[String, Workload] = Seq(
    Workload("cow_stream", Seq(TableSpec("orders", partitioned = false)),
      preloadRows = 15000, rowsPerTable = 4000, envRows = 250, buckets = 16,
      // the first merge batch after a warm-up is still 15-25% slow: the
      // per-row stages reach a steady JIT state later than the commit path
      warmup = 2, readTable = "orders"),
    Workload("fanout_stream",
      Seq(
        TableSpec("t0", partitioned = true),
        TableSpec("t1", partitioned = false),
        TableSpec("t2", partitioned = true),
        TableSpec("t3", partitioned = false,
          Map("table.type" -> "mor", "col.stats.columns" -> "qty"))),
      preloadRows = 1000, rowsPerTable = 100, envRows = 25, buckets = 4,
      warmup = 1, readTable = "t1")
  ).map(w => w.name -> w).toMap
}

/** One timed read: DataFrame build, collect, and (traced run) files opened
  * per live data file.
  */
final case class ReadSample(kind: String, planMs: Double, execMs: Double, openRatio: Double)

/** Closed-loop, single-client benchmark of the `cdc-lake` streaming sink.
  *
  * {{{
  * CdcBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> [--spans <file>]
  * }}}
  *
  * One process, one Spark session at `local[cores]`. Envelopes come from a
  * seeded generator ([[Gen]]); each micro-batch is added to a
  * `MemoryStream[String]` only after `processAllAvailable()` returned for
  * the one before. Every read result and the final snapshot are checked
  * against the generator's LWW model. The last stdout line is the result
  * JSON; the lines before it are a readable summary.
  */
object CdcBench {
  val Db = "bench"
  val SetupReps = 3
  // read rounds after the stream: the read paths are still being compiled
  // over the first rounds (the first ones 30-60% slower, then 5-10%), so
  // the untimed ones cover that ramp and only the rounds after it are timed
  val ProbeWarmup = 8
  val ProbeReps = 14
  val ScanQtyBelow = 300L

  final class Opts(a: Map[String, String]) {
    val workload: Workload = Workload.all.getOrElse(a.getOrElse("workload", ""),
      throw new IllegalArgumentException(
        s"--workload must be one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val seed: Long = a.getOrElse("seed", "1").toLong
    val seconds: Double = a.getOrElse("seconds", "10").toDouble
    val trace: Boolean = a.getOrElse("trace", "0") == "1"
    val work: String = a.getOrElse("work", throw new IllegalArgumentException("--work is required"))
    val cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
    val spans: Option[String] = a.get("spans")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val o = new Opts(kv)
    val ok = new CdcBench(o).run()
    System.out.flush()
    if (!ok) sys.exit(1)
  }

  def md5Key(table: String, id: Long): String =
    MessageDigest.getInstance("MD5").digest(s"${Db}_${table}_$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** JSON string literal. */
  def jstr(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

final class CdcBench(o: CdcBench.Opts) {
  import CdcBench._

  private val wl = o.workload
  private val root = new File(o.work).getAbsolutePath
  private val tablesRoot = s"$root/lake"
  private def pathOf(t: TableSpec) = s"$tablesRoot/$Db/${t.name}"

  private val wallStart = System.nanoTime()
  private val loadStart = loadavg()
  private val statStart = cpuStat()

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private val out = mutable.ArrayBuffer.empty[String]
  private def say(s: String): Unit = out += s

  /** Run one operation; an exception or a `false` result counts as failed. */
  private def op(what: String)(f: => Boolean): Boolean = {
    attempted += 1
    val problem =
      try { if (f) None else Some("result differs from the model") }
      catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    problem.foreach { p => failed += 1; problems += s"$what: $p" }
    problem.isEmpty
  }

  // ---- session ------------------------------------------------------------

  private def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${wl.name}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    if (o.trace) CountingFileSystem.settings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def sinkOptions: Map[String, String] =
    Map(
      "option.lake.path" -> s"$tablesRoot/{db}/{table}",
      "option.staging.path" -> s"$root/staging") ++
      wl.tables.flatMap { t =>
        val p = s"$Db.${t.name}."
        Seq(p + "recordkey.field" -> "id", p + "buckets" -> wl.buckets.toString) ++
          (if (t.partitioned) Seq(p + "partition.field" -> "region") else Nil) ++
          t.extra.map { case (k, v) => (p + k) -> v }
      }

  // ---- correctness ----------------------------------------------------------

  private def recOf(r: Row): Rec = Rec(
    r.getAs[Long]("id"), r.getAs[String]("cat"), r.getAs[Long]("qty"), r.getAs[Long]("amt"),
    r.getAs[String]("region"), r.getAs[String]("note"))

  private val payloadCols = Seq("id", "cat", "qty", "amt", "region", "note")

  private def snapshotMatches(spark: SparkSession, t: TableSpec, m: TableModel): Boolean = {
    val got = spark.read.format("cdc-lake").option("buckets", wl.buckets.toString).load(pathOf(t))
      .select((payloadCols :+ LakeTable.TsCol).map(col): _*).collect()
    got.length == m.rows.size && got.forall { r =>
      m.rows.get(r.getAs[Long]("id")).exists { case (rec, ts) =>
        rec == recOf(r) && ts == r.getAs[Long](LakeTable.TsCol)
      }
    }
  }

  // ---- reads ----------------------------------------------------------------

  private val readSamples = mutable.ArrayBuffer.empty[ReadSample]
  private var readSeq = 0
  private val probeRnd = new java.util.Random(o.seed * 7919L + 17)

  /** Time `build` (plan) and `run` (exec) under a span tag; in the traced
    * run also note the data files the exec opened.
    */
  private def timedRead[A, B](spark: SparkSession, kind: String, t: TableSpec)(
      build: => A)(run: A => B): (B, Double, Double, Set[String]) = {
    readSeq += 1
    val tag = s"$kind#$readSeq"
    val sc = spark.sparkContext
    sc.setLocalProperty(JobSpans.SpanProp, tag)
    try {
      val t0 = System.nanoTime()
      val a = build
      val t1 = System.nanoTime()
      val (b, opened) =
        if (o.trace) CountingFileSystem.record(run(a)) else (run(a), Set.empty[String])
      val t2 = System.nanoTime()
      tracer.foreach(_.readSpan(tag, kind, t.name, t0, t1, t2))
      (b, ms(t0, t1), ms(t1, t2), opened)
    } finally sc.setLocalProperty(JobSpans.SpanProp, null)
  }

  private def readScan(spark: SparkSession, t: TableSpec, m: TableModel): Boolean = {
    val (got, p, e, _) = timedRead(spark, "read.scan", t) {
      spark.read.format("cdc-lake").option("buckets", wl.buckets.toString).load(pathOf(t))
        .where(col("qty") < ScanQtyBelow)
        .groupBy("cat").agg(count(lit(1)).as("n"), sum("amt").as("amt"))
    }(_.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
    readSamples += ReadSample("scan", p, e, Double.NaN)
    val want = m.rows.values.iterator.map(_._1).filter(_.qty < ScanQtyBelow).toSeq
      .groupBy(_.cat).map { case (c, rs) => c -> (rs.size.toLong, rs.map(_.amt).sum) }
    got == want
  }

  private def readLookup(spark: SparkSession, t: TableSpec, m: TableModel): Boolean = {
    val live = (0 until 15).map(_ => m.liveAt(probeRnd.nextInt(m.size)))
    val absent = (0 until 5).map(i => m.nextId + i)
    val ids = (live ++ absent).distinct
    val lake = new LakeTable(spark, pathOf(t), wl.buckets)
    val (got, p, e, opened) = timedRead(spark, "read.lookup", t) {
      lake.lookup(ids.map(md5Key(t.name, _)))
    }(_.select(payloadCols.map(col): _*).collect().map(recOf).toSet)
    val ratio =
      if (!o.trace) Double.NaN
      else opened.count(f => f.startsWith(pathOf(t)) && f.endsWith(".parquet")).toDouble /
        math.max(1, TableDir.liveDataFiles(pathOf(t)))
    readSamples += ReadSample("lookup", p, e, ratio)
    got == ids.flatMap(m.rows.get).map(_._1).toSet
  }

  private def readIncr(spark: SparkSession, t: TableSpec, m: TableModel, last: Batch): Boolean = {
    val lake = new LakeTable(spark, pathOf(t), wl.buckets)
    val versions = lake.versionsAfter(0L)
    val (since, until) = (versions.init.lastOption.getOrElse(0L), versions.last)
    val (got, p, e, _) = timedRead(spark, "read.incr", t) {
      lake.incrementalBetween(since, until)
    }(_.select(payloadCols.map(col): _*).collect().map(recOf).toSet)
    readSamples += ReadSample("incr", p, e, Double.NaN)
    val want = m.rows.values.collect { case (r, ts) if ts >= last.tsLo && ts <= last.tsHi => r }.toSet
    got == want
  }

  private def readAll(spark: SparkSession, t: TableSpec, m: TableModel, last: Batch): Unit = {
    op(s"scan ${t.name}")(readScan(spark, t, m))
    op(s"lookup ${t.name}")(readLookup(spark, t, m))
    op(s"incr ${t.name}")(readIncr(spark, t, m, last))
  }

  // ---- tracing --------------------------------------------------------------

  private var tracer: Option[Tracer] = None

  /** Wall seconds of each phase of the run, for the summary. */
  private var phases: Seq[(String, Double)] = Nil

  // ---- run --------------------------------------------------------------------

  def run(): Boolean = {
    val gen = new Gen(o.seed, Db)
    val models = wl.tables.map(t => t.name -> new TableModel(t.name)).toMap
    val preload = gen.preload(wl.tables.map(t => models(t.name)), wl.preloadRows, math.max(wl.envRows, 1000))

    // set-up: session start plus initial load, repeated on a fresh
    // directory; the last one stays up for the stream
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { _ =>
      if (spark != null) { stopSession(spark); deleteTree(root) }
      val t0 = System.nanoTime()
      spark = session()
      val s = spark
      op("preload") {
        val insert = wl.tables.map(t => s"$Db.${t.name}.write.operation" -> "insert")
        s.createDataset(preload.envelopes)(org.apache.spark.sql.Encoders.STRING).toDF("value").write.format("cdc-lake")
          .options(sinkOptions ++ insert).mode("append").save()
        true
      }
      (System.nanoTime() - t0) / 1e9
    }
    if (o.trace) tracer = Some(new Tracer(spark, wl.name, o.seed, o.cores, tablesRoot))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    implicit val enc: org.apache.spark.sql.Encoder[String] = org.apache.spark.sql.Encoders.STRING
    val input = MemoryStream[String]
    val q: StreamingQuery = input.toDF().writeStream
      .format("cdc-lake")
      .options(sinkOptions)
      .option("checkpointLocation", s"$root/checkpoint")
      .start()

    val lat = mutable.ArrayBuffer.empty[Double]
    val warm = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var payload = 0L
    var last: Batch = preload
    var alive = true

    def oneBatch(timed: Boolean): Unit = {
      val b = gen.changes(wl.tables.map(t => models(t.name)), wl.rowsPerTable, wl.envRows,
        wl.tables.filter(_.partitioned).map(_.name).toSet)
      tracer.foreach(_.beforeBatch())
      val t0 = System.nanoTime()
      alive = op("batch") {
        input.addData(b.envelopes)
        q.processAllAvailable()
        true
      }
      val t1 = System.nanoTime()
      last = b
      if (alive) tracer.foreach(_.afterBatch(q, timed, ms(t0, t1)))
      if (!timed) warm += ms(t0, t1)
      else if (alive) { lat += ms(t0, t1); rows += b.changeRows; payload += b.payloadBytes }
    }

    try {
      var w = 0
      while (alive && w < wl.warmup) { oneBatch(timed = false); w += 1 }
      val filesBefore = TableDir.files(tablesRoot)
      val tStart = System.nanoTime()
      while (alive && (System.nanoTime() - tStart) / 1e9 < o.seconds) oneBatch(timed = true)
      val filesAfter = TableDir.files(tablesRoot)
      val newBytes = filesAfter.collect { case (f, n) if !filesBefore.contains(f) => n }.sum

      val tEnd = System.nanoTime()

      // after the stream: the read probe (checked but untimed warm-up
      // rounds, then the timed ones) and the final snapshot check of every
      // table
      q.stop()
      if (alive) {
        // start the probe from a collected heap, so that no run carries the
        // stream's garbage into its timed reads
        System.gc()
        val t = wl.tables.find(_.name == wl.readTable).get
        (0 until ProbeWarmup).foreach(_ => readAll(spark, t, models(t.name), last))
        readSamples.clear()
        (0 until ProbeReps).foreach(_ => readAll(spark, t, models(t.name), last))
      }
      val tReads = System.nanoTime()
      if (alive) wl.tables.foreach(t => op(s"snapshot ${t.name}")(snapshotMatches(spark, t, models(t.name))))
      phases = Seq("setup" -> setups.sum, "warm-up" -> warm.sum / 1000, "timed" -> (tEnd - tStart) / 1e9,
        "reads" -> (tReads - tEnd) / 1e9, "check" -> (System.nanoTime() - tReads) / 1e9)

      report(setups, warm.toSeq, lat.toSeq, rows, payload, newBytes)
    } finally {
      if (q.isActive) q.stop()
      tracer.foreach(_.close(o.spans))
      stopSession(spark)
    }
    failed == 0
  }

  private def report(
      setups: Seq[Double], warm: Seq[Double], lat: Seq[Double], rows: Long, payload: Long, newBytes: Long): Unit = {
    val n = lat.size
    val sorted = lat.sorted
    // highest percentile with at least 10 batches beyond it: the (n-10)th
    // smallest value, reported with its percentile and the sample count
    val (tail, tailPct) =
      if (n > 10) (sorted(n - 11), 100.0 * (n - 10) / n) else (sorted.lastOption.getOrElse(Double.NaN), 100.0)
    def reads(k: String, f: ReadSample => Double) = median(readSamples.filter(_.kind == k).map(f).toSeq)
    val wall = (System.nanoTime() - wallStart) / 1e9
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
    val loadEnd = loadavg()
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    val (gcCount, gcMs) = (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    val nproc = Runtime.getRuntime.availableProcessors()
    val util = cpu / wall
    // CPU the rest of the machine used meanwhile (busy time minus this
    // process's), and time the hypervisor gave to other guests (steal), in
    // cores; contended when they and this run's cores ask for more than
    // the machine has, with half a core of slack
    val statEnd = cpuStat()
    val others = math.max(0.0, (statEnd._1 - statStart._1) / 100.0 - cpu) / wall
    val steal = (statEnd._2 - statStart._2) / 100.0 / wall
    val contended = o.cores + others + steal > nproc + 0.5

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(setups), "s"),
      ("batch_p50_ms", median(lat), "ms"),
      ("batch_tail_ms", tail, "ms"),
      ("rows_per_s", rows / (lat.sum / 1000.0), "1/s"),
      ("scan_p50_ms", reads("scan", r => r.planMs + r.execMs), "ms"),
      ("lookup_p50_ms", reads("lookup", r => r.planMs + r.execMs), "ms"),
      ("incr_p50_ms", reads("incr", r => r.planMs + r.execMs), "ms"),
      ("write_amp", newBytes.toDouble / math.max(1L, payload), "ratio"))

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) e2e
      else tracer.get.perLayer ++ Seq(
        ("read.scan.plan_ms", reads("scan", _.planMs), "ms"),
        ("read.scan.exec_ms", reads("scan", _.execMs), "ms"),
        ("read.lookup.plan_ms", reads("lookup", _.planMs), "ms"),
        ("read.lookup.exec_ms", reads("lookup", _.execMs), "ms"),
        ("read.incr.plan_ms", reads("incr", _.planMs), "ms"),
        ("read.incr.exec_ms", reads("incr", _.execMs), "ms"),
        ("lake.lookup.open_ratio", mean(readSamples.filter(_.kind == "lookup").map(_.openRatio).toSeq), "ratio"))

    say(f"workload=${wl.name} seed=${o.seed} seconds=${o.seconds}%.0f trace=${if (o.trace) 1 else 0} " +
      f"cores=${o.cores} timed_batches=$n warmup_batches=${wl.warmup} change_rows=$rows")
    say(f"  setup_s reps: ${setups.map(s => f"$s%.3f").mkString(", ")}")
    say(s"  batch latencies ms: warm-up ${warm.map(x => f"$x%.0f").mkString(" ")}; timed ${lat.map(x => f"$x%.0f").mkString(" ")}")
    say(f"  batch_tail_ms is p$tailPct%.1f of $n batches; reads: ${readSamples.size} timed calls " +
      s"after $ProbeWarmup untimed rounds")
    Seq("scan", "lookup", "incr").foreach { k =>
      say(s"  read $k ms: ${readSamples.filter(_.kind == k).map(r => f"${r.planMs + r.execMs}%.0f").mkString(" ")}")
    }
    say(s"  phases s: ${(phases :+ ("other" -> (wall - phases.map(_._2).sum))).map { case (k, v) => f"$k $v%.1f" }.mkString(", ")}")
    metrics.foreach { case (k, v, u) => say(f"  $k%-28s $v%14.4f $u") }
    say(f"  failed_frac                  ${failed.toDouble / math.max(1L, attempted)}%14.4f ($failed of $attempted operations)")
    say(f"contention: cores=${o.cores} nproc=$nproc loadavg_start=${loadStart}%.2f loadavg_end=$loadEnd%.2f " +
      f"cpu_s=$cpu%.1f wall_s=$wall%.1f gc=$gcCount/${gcMs / 1000.0}%.1fs cpu_per_wall=$util%.2f other_cores=$others%.2f steal_cores=$steal%.2f " +
      s"contended=$contended")
    problems.take(10).foreach(p => say(s"  problem: $p"))
    say(s"correctness: ${if (failed == 0) "PASS" else "FAIL"}")
    out.foreach(println)
    val mjson = metrics.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$mjson}}""")
  }

  /** Machine-wide (busy, steal) CPU time from `/proc/stat`, in clock ticks. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
    } catch { case _: Exception => (0L, 0L) }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  private def deleteTree(dir: String): Unit = {
    val d = Paths.get(dir)
    if (Files.exists(d)) {
      val st = Files.walk(d)
      try st.iterator().asScala.toList.reverse.foreach(p => Files.deleteIfExists(p))
      finally st.close()
    }
  }
}
