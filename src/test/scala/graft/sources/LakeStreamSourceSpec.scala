package graft.sources

import graft.SparkSpec
import graft.lake.LakeTable

/** Streaming incremental read over a LakeTable (`readStream.format(
  * "cdc-lake")`): version-ranged micro-batches, checkpoint restarts,
  * COW delete semantics.
  */
class LakeStreamSourceSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, Long, String)*) =
    t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload")

  private def startFeed(dir: String, ckpt: String, name: String) =
    spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2").load()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .start()

  test("first batch = snapshot; later commits arrive as bucket-pruned increments") {
    val dir = tempDir("lakesrc-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))

    val q = startFeed(dir, s"$dir/_ckpt", "lakefeed1")
    try {
      q.processAllAvailable()
      val first = spark.table("lakefeed1").select("_key", "payload")
        .as[(String, String)].collect().sortBy(_._1)
      assert(first.toSeq == Seq(("a", "a1"), ("b", "b1")), "initial snapshot")

      // An update + an insert: only the changed rows are emitted.
      lt.upsert(rows(("a", 2L, "a2"), ("c", 2L, "c1")))
      q.processAllAvailable()
      val second = spark.table("lakefeed1").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(second.toSeq == Seq(("a", "a1"), ("a", "a2"), ("b", "b1"), ("c", "c1")),
        "append-mode feed: initial rows + exactly the changed rows, no re-emits")

      // Hard delete: COW incremental carries no tombstone — nothing new.
      lt.delete(Seq("b").toDF(LakeTable.KeyCol))
      q.processAllAvailable()
      assert(spark.table("lakefeed1").count() == 4, "deletes emit no rows")
    } finally q.stop()
  }

  test("a SQL UPDATE that keeps _ts reaches the incremental read and the feed") {
    val dir = tempDir("lakesrc-upd-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    spark.sql(s"CREATE TABLE lakesrc_upd USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    val q = startFeed(dir, s"$dir/_ckpt", "lakefeed_upd")
    try {
      q.processAllAvailable()
      spark.sql("UPDATE lakesrc_upd SET payload = 'a9' WHERE _key = 'a'")
      val v = lt.latestVersion.get
      assert(lt.incrementalBetween(v - 1, v).select("_key", "_ts", "payload")
        .as[(String, Long, String)].collect().toSeq == Seq(("a", 1L, "a9")))
      q.processAllAvailable()
      val fed = spark.table("lakefeed_upd").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(fed.toSeq == Seq(("a", "a1"), ("a", "a9"), ("b", "b1")))
    } finally {
      q.stop()
      spark.sql("DROP TABLE IF EXISTS lakesrc_upd")
    }
  }

  test("startingVersion/startingTimestamp skip consumed history on a fresh stream") {
    val dir = tempDir("lakesrc-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"))) // v1 — consumed base
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    lt.upsert(rows(("b", 1L, "b1"))) // v2 — the only change after v1/mid

    def drained(opts: Map[String, String], name: String): Seq[(String, String)] = {
      val q = opts.foldLeft(
          spark.readStream.format("cdc-lake")
            .option("path", dir).option("buckets", "2"))((r, kv) => r.option(kv._1, kv._2))
        .load().writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tempDir("ckpt-").toString)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).select("_key", "payload")
        .as[(String, String)].collect().sortBy(_._1).toSeq
    }
    // from version 1: only v2's rows, no snapshot
    assert(drained(Map("startingVersion" -> "1"), "sv1") == Seq(("b", "b1")))
    // from the mid instant: same
    assert(drained(Map("startingTimestamp" -> mid.toString), "st1") == Seq(("b", "b1")))
    // from now: nothing yet; a later commit arrives alone
    assert(drained(Map("startingTimestamp" ->
      System.currentTimeMillis().toString), "st2") == Seq.empty)
    // loud: beyond-latest version, both options at once
    intercept[Exception](drained(Map("startingVersion" -> "9"), "sv9"))
    intercept[Exception](drained(
      Map("startingVersion" -> "1", "startingTimestamp" -> "1"), "svboth"))

    // partitioned: per-partition timestamp resolution; version scalars
    // are ambiguous and rejected
    val pdir = tempDir("lakesrc-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, pdir, "day", numBuckets = 2)
    plt.upsert(Seq(("a", 1L, "d1", "x1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    Thread.sleep(5)
    val pmid = System.currentTimeMillis()
    Thread.sleep(5)
    plt.upsert(Seq(("a", 2L, "d1", "x2"), ("b", 1L, "d2", "y1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    def pdrained(opts: Map[String, String], name: String): Seq[String] = {
      val q = opts.foldLeft(
          spark.readStream.format("cdc-lake")
            .option("path", pdir).option("buckets", "2"))((r, kv) => r.option(kv._1, kv._2))
        .load().writeStream.format("memory").queryName(name)
        .option("checkpointLocation", tempDir("ckpt-").toString)
        .outputMode("append").start()
      try { q.processAllAvailable() } finally q.stop()
      spark.table(name).select("payload").as[String].collect().sorted.toSeq
    }
    assert(pdrained(Map("startingTimestamp" -> pmid.toString), "pst1") ==
      Seq("x2", "y1"), "d1 advances from v1, d2 (born later) arrives whole")
    intercept[Exception](pdrained(Map("startingVersion" -> "1"), "psv1"))
  }

  test("mor table feed: delta commits stream as merged increments, folds re-emit nothing stale") {
    val dir = tempDir("lakesrc-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2,
      tableType = LakeTable.MorType, compactAfter = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"))) // v1 base

    val q = startFeed(dir, s"$dir/_ckpt", "morfeed")
    try {
      q.processAllAvailable()
      assert(spark.table("morfeed").count() == 2, "initial snapshot")

      // Delta commit: the micro-batch must carry MERGED state rows (a2,
      // c1), never raw op-tagged delta rows.
      lt.upsert(rows(("a", 2L, "a2"), ("c", 2L, "c1"))) // v2 delta
      q.processAllAvailable()
      val afterDelta = spark.table("morfeed").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(afterDelta.toSeq ==
        Seq(("a", "a1"), ("a", "a2"), ("b", "b1"), ("c", "c1")),
        s"delta commit must stream merged changed rows, got ${afterDelta.toSeq}")

      // This commit folds (stacks at compactAfter=2 after one more): the
      // fold rewrites bases, but only genuinely-changed (_key, _ts) state
      // may be emitted — unchanged rows must not re-stream.
      lt.upsert(rows(("b", 3L, "b3"), ("d", 3L, "d1"))) // v3 delta (stack=2)
      lt.upsert(rows(("a", 4L, "a4")))                  // v4 FOLD
      q.processAllAvailable()
      val afterFold = spark.table("morfeed").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(afterFold.toSeq == Seq(
        ("a", "a1"), ("a", "a2"), ("a", "a4"),
        ("b", "b1"), ("b", "b3"), ("c", "c1"), ("d", "d1")),
        s"fold must not re-emit unchanged state, got ${afterFold.toSeq}")
    } finally q.stop()
  }

  test("restart from checkpoint resumes at the committed version") {
    // memory sink can't recover a checkpoint; foreachBatch can.
    val dir = tempDir("lakesrc-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1")))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    def start() = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2").load()
      .writeStream
      .option("checkpointLocation", s"$dir/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.select("_key", "payload").as[(String, String)]
          .collect().foreach(seen.add)
        ()
      }
      .start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(seen.size == 1)

    // Commit while the stream is down; the restarted query must emit ONLY
    // the versions after its checkpointed offset (no snapshot re-emit).
    lt.upsert(rows(("d", 2L, "d1")))
    seen.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(seen.asScala.toSeq.sorted == Seq(("d", "d1")),
        s"restart re-emitted the snapshot: ${seen.asScala.toSeq}")
    } finally q2.stop()
  }

  test("maxVersionsPerBatch chunks catch-up into bounded batches, then drains") {
    val dir = tempDir("lakesrc-rate-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    // 5 committed versions before the stream starts — a backlog.
    (1 to 5).foreach(i => lt.upsert(rows((s"k$i", i.toLong, s"v$i"))))
    assert(lt.latestVersion.contains(5L))

    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2")
      .option("maxVersionsPerBatch", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batchSizes.add(df.count()): Unit
      }
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val sizes = batchSizes.asScala.toSeq.filter(_ > 0)
      // (0,2], (2,4], (4,5] — the backlog arrives chunked, never all 5
      // versions in one micro-batch; everything drains.
      assert(sizes.sum == 5, s"all backlog rows must arrive: $sizes")
      assert(sizes.forall(_ <= 2), s"no batch may span more than 2 versions: $sizes")
      assert(sizes.length >= 3, s"expected the backlog chunked into >=3 batches: $sizes")

      // A caught-up stream is unaffected: one new commit = one batch.
      lt.upsert(rows(("k6", 6L, "v6")))
      q.processAllAvailable()
      assert(batchSizes.asScala.toSeq.filter(_ > 0).sum == 6)
    } finally q.stop()

    // A fresh capped stream against VACUUMED early history must not
    // compute an offset onto a tombstoned version (r9 review: the
    // arithmetic prev+mx cap named vacuumed manifests and wedged the
    // stream permanently — the cap counts versions still in the log).
    val vdir = tempDir("lakesrc-rate-vac-").toString
    val vlt = new LakeTable(spark, vdir, numBuckets = 2)
    (1 to 5).foreach(i => vlt.upsert(rows((s"k$i", i.toLong, s"v$i"))))
    vlt.vacuum(keepVersions = 1)
    val vseen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val vq = spark.readStream.format("cdc-lake")
      .option("path", vdir).option("buckets", "2")
      .option("maxVersionsPerBatch", "2").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.select("_key").collect().foreach(r => vseen.add(r.getString(0))): Unit
      }
      .option("checkpointLocation", s"$vdir/_ckpt")
      .start()
    try {
      vq.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(vseen.asScala.toSeq.sorted == Seq("k1", "k2", "k3", "k4", "k5"),
        "capped stream over vacuumed history must still drain the snapshot")
    } finally vq.stop()

    // Trigger.AvailableNow + cap drains the WHOLE backlog in chunks and
    // terminates (r9: the source implements SupportsTriggerAvailableNow
    // itself — Spark's v1 wrapper would freeze ONE capped offset per run
    // and stop after a single chunk).
    val adir = tempDir("lakesrc-avnow-").toString
    val alt = new LakeTable(spark, adir, numBuckets = 2)
    (1 to 5).foreach(i => alt.upsert(rows((s"k$i", i.toLong, s"v$i"))))
    val aseen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val abatches = new java.util.concurrent.atomic.AtomicInteger(0)
    def runAvailableNow(): Unit = {
      val aq = spark.readStream.format("cdc-lake")
        .option("path", adir).option("buckets", "2")
        .option("maxVersionsPerBatch", "2").load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ks = df.select("_key").collect().map(_.getString(0))
          if (ks.nonEmpty) abatches.incrementAndGet()
          ks.foreach(aseen.add): Unit
        }
        .option("checkpointLocation", s"$adir/_ckpt")
        .start()
      assert(aq.awaitTermination(120000), "AvailableNow run must self-terminate")
    }
    runAvailableNow()
    import scala.jdk.CollectionConverters._
    assert(aseen.asScala.toSeq.sorted == Seq("k1", "k2", "k3", "k4", "k5"),
      "capped AvailableNow run must drain the full backlog")
    // 5 versions at cap 2: snapshot-at-v2 then (2,4] then (4,5] = 3 chunks.
    assert(abatches.get() == 3, s"expected 3 capped chunks, got ${abatches.get()}")
    // A caught-up re-run terminates without new data; a new commit after
    // the run belongs to the NEXT run and drains incrementally.
    aseen.clear(); abatches.set(0)
    runAvailableNow()
    assert(aseen.isEmpty && abatches.get() == 0, "caught-up run must emit nothing")
    alt.upsert(rows(("k6", 6L, "v6")))
    runAvailableNow()
    assert(aseen.asScala.toSeq == Seq("k6") && abatches.get() == 1,
      "post-run commit drains as one incremental chunk")

    // Invalid cap fails loudly at query start.
    val bad = intercept[Exception] {
      val qq = spark.readStream.format("cdc-lake")
        .option("path", dir).option("maxVersionsPerBatch", "0").load()
        .writeStream.format("memory").queryName("ratebad")
        .option("checkpointLocation", s"$dir/_ckpt_bad").start()
      try qq.processAllAvailable() finally qq.stop()
    }
    assert(bad.getMessage != null)
  }

  test("partitioned table feed: vector offsets, only changed partitions scanned") {
    val dir = tempDir("lakesrc-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, dir, "day", numBuckets = 2)
    plt.upsert(Seq(
      ("a", 1L, "2024-01-01", "va"), ("c", 1L, "2024-01-02", "vc"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))

    val q = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2").load()
      .writeStream.format("memory").queryName("plakefeed")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("plakefeed").select("_key", "day", "payload")
        .as[(String, String, String)].collect().sortBy(_._1)
      assert(first.toSeq == Seq(
        ("a", "2024-01-01", "va"), ("c", "2024-01-02", "vc")),
        "first batch = full snapshot across partitions, partition col attached")

      // touch ONE partition + add a NEW one: the next micro-batch carries
      // exactly those rows
      plt.upsert(Seq(
        ("a", 2L, "2024-01-01", "va2"), ("d", 2L, "2024-01-03", "vd"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
      q.processAllAvailable()
      val second = spark.table("plakefeed").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(second.toSeq == Seq(
        ("a", "va"), ("a", "va2"), ("c", "vc"), ("d", "vd")),
        s"untouched partition re-emitted: ${second.toSeq}")
    } finally q.stop()
  }

  test("COMPOSITE-partitioned feed: offsets key on the slash-joined identity (r20)") {
    val dir = tempDir("lakesrc-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, dir, "region,day", numBuckets = 2)
    plt.upsert(Seq(
      ("a", 1L, "eu", "d1", "va"), ("c", 1L, "us", "d1", "vc"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "region", "day", "payload"))

    val q = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2").load()
      .writeStream.format("memory").queryName("complakefeed")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val first = spark.table("complakefeed")
        .select("_key", "region", "day", "payload")
        .as[(String, String, String, String)].collect().sortBy(_._1)
      assert(first.toSeq == Seq(
        ("a", "eu", "d1", "va"), ("c", "us", "d1", "vc")),
        "first batch = full snapshot, BOTH partition columns re-attached")
      // the committed offset is a vector keyed by composite identities
      import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
      val lastOffset = q.asInstanceOf[StreamingQueryWrapper]
        .streamingQuery.committedOffsets.values.head.json()
      assert(lastOffset.contains("eu/d1") && lastOffset.contains("us/d1"),
        s"vector offset must key on slash-joined identities: $lastOffset")
      // touch one composite partition + birth another: exactly those rows
      plt.upsert(Seq(
        ("a", 2L, "eu", "d1", "va2"), ("d", 2L, "eu", "d2", "vd"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "region", "day", "payload"))
      q.processAllAvailable()
      val second = spark.table("complakefeed").select("_key", "payload")
        .as[(String, String)].collect().sortBy(r => (r._1, r._2))
      assert(second.toSeq == Seq(
        ("a", "va"), ("a", "va2"), ("c", "vc"), ("d", "vd")),
        s"untouched composite partition re-emitted: ${second.toSeq}")
    } finally q.stop()
  }

  test("partitioned rate limit caps each partition's versions per batch independently") {
    val dir = tempDir("lakesrc-prate-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, dir, "day", numBuckets = 2)
    // p1 has a 3-version backlog, p2 one version: per-partition cap 1
    // means p1 drains over 3 batches while p2 finishes in the first.
    (1 to 3).foreach(i => plt.upsert(
      Seq((s"k$i", i.toLong, "2024-01-01", s"v$i"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")))
    plt.upsert(Seq(("x", 1L, "2024-01-02", "vx"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))

    val batches =
      new java.util.concurrent.ConcurrentLinkedQueue[Seq[(String, String)]]()
    val q = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2")
      .option("maxVersionsPerBatch", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.add(df.select("_key", "day").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq): Unit
      }
      .option("checkpointLocation", s"$dir/_ckpt")
      .start()
    try {
      q.processAllAvailable()
      import scala.jdk.CollectionConverters._
      val got = batches.asScala.toSeq.filter(_.nonEmpty)
      // every batch covers at most 1 version per partition => at most one
      // row per partition per batch in this fixture
      got.foreach { b =>
        val perPart = b.groupBy(_._2).view.mapValues(_.size)
        assert(perPart.forall(_._2 <= 1),
          s"a batch carried >1 version of one partition: $got")
      }
      assert(got.flatten.map(_._1).sorted == Seq("k1", "k2", "k3", "x"),
        s"backlog must drain completely: $got")
      assert(got.length >= 3, s"p1's backlog must span >=3 batches: $got")
    } finally q.stop()
  }

  test("partitioned AvailableNow drain: capped vector offsets reach the frozen targets and stop") {
    val dir = tempDir("lakesrc-pavnow-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, dir, "day", numBuckets = 2)
    def prow(k: String, ts: Long, day: String) =
      Seq((k, ts, day, s"v$ts")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    (1 to 4).foreach(i => plt.upsert(prow(s"a$i", i.toLong, "2024-01-01")))
    (1 to 2).foreach(i => plt.upsert(prow(s"b$i", i.toLong, "2024-01-02")))

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val chunks = new java.util.concurrent.atomic.AtomicInteger(0)
    def run(): Unit = {
      val q = spark.readStream.format("cdc-lake")
        .option("path", dir).option("buckets", "2")
        .option("maxVersionsPerBatch", "2").load()
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val ks = df.select("_key").collect().map(_.getString(0))
          if (ks.nonEmpty) chunks.incrementAndGet()
          ks.foreach(seen.add): Unit
        }
        .option("checkpointLocation", s"$dir/_ckpt")
        .start()
      assert(q.awaitTermination(120000), "partitioned AvailableNow run must self-terminate")
    }
    run()
    import scala.jdk.CollectionConverters._
    assert(seen.asScala.toSeq.sorted == Seq("a1", "a2", "a3", "a4", "b1", "b2"),
      "both partitions drain to their frozen targets")
    // chunk 1 = snapshots at capped v2 per partition (a1,a2,b1,b2);
    // chunk 2 = p1's (2,4] remainder (a3,a4).
    assert(chunks.get() == 2, s"expected 2 capped chunks, got ${chunks.get()}")
    // A partition born after this run's freeze drains on the NEXT run.
    seen.clear(); chunks.set(0)
    plt.upsert(prow("c1", 1L, "2024-01-03"))
    run()
    assert(seen.asScala.toSeq == Seq("c1") && chunks.get() == 1,
      "new partition arrives as one incremental chunk on the next run")
  }

  test("schema widening mid-stream fails the feed loudly with a restart instruction") {
    val dir = tempDir("lakesrc-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 1)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n"))
    val q = startFeed(dir, s"$dir/_ckpt", "widenfeed")
    try {
      q.processAllAvailable()
      // int -> long widening commit invalidates the frozen stream schema
      lt.upsert(Seq(("b", 2L, 2L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
        throw new IllegalStateException("feed must not survive a schema change")
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        Option(c.getMessage).exists(_.contains("restart the stream"))),
        s"wrong failure: $e")
    } finally q.stop()
  }

  test("partitioned feed: stale narrow partition after widening is cast up, not wedged") {
    // Widening only rewrites partitions that receive rows, so a later
    // micro-batch covering only a still-int partition carries a schema
    // losslessly NARROWER than the frozen one — it must be cast up, not
    // thrown (a restart deterministically replays the same narrow batch:
    // the ADVICE r8 permanent wedge).
    val dir = tempDir("lakesrc-").toString
    val plt = new graft.lake.PartitionedLakeTable(spark, dir, "day", numBuckets = 2)
    plt.upsert(Seq(("a", 1L, "d1", 1), ("b", 1L, "d2", 2))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "n"))
    // widen ONLY d2 to long; d1 stays int on disk
    plt.upsert(Seq(("b", 2L, "d2", 20L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "n"))

    val q = spark.readStream.format("cdc-lake")
      .option("path", dir).option("buckets", "2").load()
      .writeStream.format("memory").queryName("stalefeed")
      .option("checkpointLocation", s"$dir/_ckpt")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable() // frozen schema: n is LONG (union snapshot)
      assert(spark.table("stalefeed").schema("n").dataType ==
        org.apache.spark.sql.types.LongType)
      // a batch touching ONLY the stale still-int partition
      plt.upsert(Seq(("a", 3L, "d1", 10))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "n"))
      q.processAllAvailable() // must NOT throw
      val got = spark.table("stalefeed").select("_key", "n")
        .as[(String, Long)].collect().sortBy(r => (r._1, r._2))
      // first batch = LWW snapshot (b already at 20), then the d1 delta
      assert(got.toSeq == Seq(("a", 1L), ("a", 10L), ("b", 20L)),
        s"stale-partition batch lost or mangled: ${got.toSeq}")
    } finally q.stop()
  }

  test("CDC sink output chains into a downstream lake feed") {
    // cdc-lake as BOTH ends of a pipeline: envelopes -> CDC merge ->
    // lake table -> streaming incremental read.
    val root = tempDir("lakesrc-").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType))).json
    def esc(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val env =
      s"""{"databaseName":"db","tableName":"person","schema":${esc(schema)},""" +
        s""""timestamp":1,"type":"upsert","rows":[{"id":1,"name":"ann"}]}"""
    graft.cdc.CdcSyncCommand.run(
      Seq(env).toDF("value"),
      Map(
        "option.lake.path" -> s"$root/{db}/{table}",
        "db.person.recordkey.field" -> "id",
        "db.person.buckets" -> "2"),
      batchId = 0L)

    val q = startFeed(s"$root/db/person", s"$root/_feed_ckpt", "lakefeed3")
    try {
      q.processAllAvailable()
      assert(spark.table("lakefeed3").select("name").as[String].collect().toSeq
        == Seq("ann"))
    } finally q.stop()
  }

  test("snapshotMode=refresh: a stream-static join sees dim upserts per micro-batch (r18)") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    val dimDir = tempDir("dim-refresh-").resolve("t").toString
    val dim = new LakeTable(spark, dimDir, numBuckets = 2)
    dim.upsert(Seq(("k1", 1L, "v1")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    // refresh mode: re-pins latest per scan; default pins at relation
    // creation — the stream's analyzed plan holds BOTH, so one query
    // demonstrates the difference
    val refreshed = spark.read.format("cdc-lake")
      .option("path", dimDir).option("buckets", "2")
      .option("snapshotMode", "refresh").load()
      .select(col(LakeTable.KeyCol).as("k"), col("payload").as("live"))
    val pinned = spark.read.format("cdc-lake")
      .option("path", dimDir).option("buckets", "2").load()
      .select(col(LakeTable.KeyCol).as("k"), col("payload").as("frozen"))
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[String]
    val joined = input.toDF().withColumnRenamed("value", "k")
      .join(refreshed, "k").join(pinned, "k")
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    val q = joined.writeStream.outputMode("append")
      .foreachBatch { (df: DataFrame, _: Long) =>
        out.synchronized { out ++= df.as[(String, String, String)].collect() }
        ()
      }.start()
    try {
      input.addData("k1")
      q.processAllAvailable()
      dim.upsert(Seq(("k1", 2L, "v2")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
      input.addData("k1")
      q.processAllAvailable()
    } finally q.stop()
    // batch 1 joined v1 on both sides; batch 2: refresh side sees the
    // upsert, the pinned side still reads query-start state
    assert(out.toList === List(("k1", "v1", "v1"), ("k1", "v2", "v1")))
    // loud on wrong mode values; refresh + time travel is contradictory
    intercept[Exception](spark.read.format("cdc-lake")
      .option("path", dimDir).option("snapshotMode", "bogus").load().collect())
    intercept[Exception](spark.read.format("cdc-lake")
      .option("path", dimDir).option("snapshotMode", "refresh")
      .option("versionAsOf", "1").load().collect())
  }
}
