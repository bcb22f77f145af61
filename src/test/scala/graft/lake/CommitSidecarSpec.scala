package graft.lake

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.graft.BenchProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Blooms and column stats come from the write tasks: a commit runs no
  * bloom or stats job and nothing after its data write, and buckets
  * written as several files carry one filter per file, which lookups,
  * probes and deletes OR together like stacked layers.
  */
class CommitSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def rows(keys: Seq[String], ts: Long): DataFrame =
    keys.map(k => (k, ts, s"$k-$ts", ts * 10))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload", "n")

  /** Keys that hash to `bucket` of `numBuckets`. */
  private def keysIn(bucket: Int, numBuckets: Int, n: Int, prefix: String): Seq[String] =
    Iterator.from(0).map(i => s"$prefix$i")
      .filter(LakeTable.bucketOfKey(_, numBuckets) == bucket).take(n).toSeq

  test("an upsert with blooms and stats runs no job after its write") {
    val dir = tempDir("sidecar-jobs-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4, statsColumns = Seq("n"))
    lt.upsert(rows((0 until 40).map(i => s"k$i"), 1L), "c1")
    val touched = keysIn(1, 4, 5, "u") ++ keysIn(3, 4, 5, "u")
    val sc = spark.sparkContext
    val probe = new BenchProbe
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val order = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        descs.add(Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    probe.install(sc)
    sc.addSparkListener(order)
    try {
      probe.harvest(sc)
      descs.clear()
      lt.upsert(rows(touched, 2L), "c2")
      val jobs = probe.harvest(sc)
      assert(jobs.getOrElse("jobs.lake:bloom-build", 0L) == 0L, jobs)
      assert(jobs.getOrElse("jobs.lake:stats", 0L) == 0L, jobs)
      val seq = descs.asScala.toSeq
      assert(seq.nonEmpty && seq.last.startsWith("lake:write"),
        s"the data write must be the commit's last job: $seq")
    } finally { sc.removeSparkListener(probe); sc.removeSparkListener(order) }
    val m = lt.latestManifest().get
    assert(m.bloomFiles.keySet == Set(0, 1, 2, 3) && m.bloomFiles.values.forall(_.size == 1))
    assert(m.statsFiles(1) == m.statsFiles(3) && m.statsFiles(1) != m.statsFiles(0),
      "the two touched buckets share the new commit's sidecar")
    assert(lt.lookup(touched.take(1)).count() == 1)
  }

  /** Bit sizes of every filter `m` records, and of filters sized for each
    * data file under `dir` (one commit's worth) at `fpp`, both sorted.
    */
  private def filterBits(dir: String, m: LakeTable.Manifest, fpp: Double): (Seq[Long], Seq[Long]) = {
    val actual = m.bloomFiles.values.flatten.toSeq.map { rel =>
      val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(dir, rel))
      try BloomFilter.readFrom(in).bitSize() finally in.close()
    }.sorted
    val parts = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(p => p.endsWith(".parquet") && !p.contains("/_")).toSeq
    val expected = parts.map(p => BloomFilter.create(spark.read.parquet(p).count(), fpp).bitSize())
      .sorted
    (actual, expected)
  }

  test("key buffer chunks grow without wrapping and keep every key") {
    val kb = FileFactsTracker.KeyBuffer
    assert(kb.nextChunk(0, 10) == kb.MinChunk)
    assert(kb.nextChunk(kb.MinChunk, 10) == 2 * kb.MinChunk)
    // Past 2^30 a doubling in Int arithmetic goes negative; here it caps.
    assert(kb.nextChunk(1 << 30, 10) == kb.MaxChunk)
    assert(kb.nextChunk(Int.MaxValue, 10) == kb.MaxChunk)
    assert(kb.nextChunk(kb.MaxChunk, kb.MaxChunk) == kb.MaxChunk + 4, "a record always fits")
    intercept[ArithmeticException](kb.nextChunk(0, Int.MaxValue))
    val keys = (0 until 5000).map(i => "k" * (i % 37) + i) :+ ("x" * (3 * kb.MinChunk))
    val buf = new FileFactsTracker.KeyBuffer
    keys.foreach(k => buf.add(UTF8String.fromString(k)))
    val back = Seq.newBuilder[String]
    buf.foreach(b => back += new String(b, "UTF-8"))
    assert(back.result() == keys)
  }

  test("per-file filters split the 1% rate over a bucket's files") {
    val one = tempDir("sidecar-fpp1-").toString
    new LakeTable(spark, one, numBuckets = 2).upsert(rows((0 until 400).map(i => s"k$i"), 1L))
    val (a1, e1) = filterBits(one, new LakeTable(spark, one, numBuckets = 2).latestManifest().get,
      FileFactsTracker.bloomFpp(1))
    assert(a1 == e1 && a1.size == 2)
    val two = tempDir("sidecar-fpp2-").toString
    val lt2 = new LakeTable(spark, two, numBuckets = 2, filesPerBucket = 2)
    lt2.upsert(rows((0 until 400).map(i => s"k$i"), 1L))
    val (a2, e2) = filterBits(two, lt2.latestManifest().get, 0.005)
    assert(a2 == e2 && a2.size > 2)
    // A task-local bulk load may write every bucket from every task.
    val bulk = tempDir("sidecar-fpp-bulk-").toString
    val lt3 = new LakeTable(spark, bulk, numBuckets = 2)
    lt3.bulkInsert(rows((0 until 300).map(i => s"k$i"), 1L).repartition(3), "c1", sortMode = "none")
    val (a3, e3) = filterBits(bulk, lt3.latestManifest().get, 0.01 / 3)
    assert(a3 == e3 && a3.size > 2)
  }

  /** Lookup, probeKeys and a bloom-pruned delete against `lt`, whose stored
    * keys are `present`.
    */
  private def assertPrunes(lt: LakeTable, present: Seq[String]): Unit = {
    val absent = Seq("absent-1", "absent-2", "absent-3")
    assert(lt.lookup(present.take(3)).select(LakeTable.KeyCol).as[String]
      .collect().sorted.toSeq == present.take(3).sorted)
    assert(lt.lookup(absent).count() == 0)
    val m = lt.latestManifest().get
    assert(lt.bloomPrune(absent.toDF(LakeTable.KeyCol), m).count() == 0,
      "the per-file filters must prove absent keys absent")
    assert(lt.probeKeys((present.take(2) ++ absent).toDF(LakeTable.KeyCol))
      .as[String].collect().sorted.toSeq == present.take(2).sorted)
    val v = lt.latestVersion
    lt.delete(absent.toDF(LakeTable.KeyCol))
    assert(lt.latestVersion == v, "a delete of absent keys must commit nothing")
    lt.delete(present.take(1).toDF(LakeTable.KeyCol))
    assert(lt.snapshot.count() == present.size - 1)
  }

  test("fpb=2 buckets carry one filter per file and still prune") {
    val lt = new LakeTable(spark, tempDir("sidecar-fpb2-").toString,
      numBuckets = 2, filesPerBucket = 2)
    val keys = (0 until 400).map(i => s"k$i")
    lt.upsert(rows(keys, 1L))
    val m = lt.latestManifest().get
    assert(m.bloomFiles.values.exists(_.size == 2), s"expected 2 filters in a bucket: $m")
    assert(lt.bloomLayers(m).values.map(_.size).toSet == m.bloomFiles.values.map(_.size).toSet)
    assertPrunes(lt, keys)
  }

  test("a MOR delta commit stacks its per-file filters and still prunes") {
    val lt = new LakeTable(spark, tempDir("sidecar-mor-").toString,
      numBuckets = 2, filesPerBucket = 2, tableType = LakeTable.MorType)
    val base = (0 until 200).map(i => s"k$i")
    val delta = (200 until 400).map(i => s"k$i")
    lt.upsert(rows(base, 1L))
    lt.upsert(rows(delta, 2L))
    val m = lt.latestManifest().get
    assert(m.deltas.values.forall(_.size == 1) && m.deltaBlooms.values.forall(_.size == 1),
      s"one delta layer with sidecars per bucket: $m")
    assert(m.deltaBlooms.values.exists(_.head.size == 2), "a 2-file delta layer has 2 filters")
    assertPrunes(lt, delta ++ base)
  }

  test("bulkInsert(sortMode=none) keeps one filter per file and prunes") {
    val lt = new LakeTable(spark, tempDir("sidecar-bulk-").toString, numBuckets = 2)
    val keys = (0 until 300).map(i => s"k$i")
    lt.bulkInsert(rows(keys, 1L).repartition(3), "c1", sortMode = "none")
    val m = lt.latestManifest().get
    assert(m.bloomFiles.values.exists(_.size > 1), s"several files in a bucket: $m")
    assertPrunes(lt, keys)
  }

  test("a manifest in the one-_bloom-per-bucket shape still parses and prunes") {
    val dir = tempDir("sidecar-legacy-").toString
    val keys = (0 until 100).map(i => s"k$i")
    new LakeTable(spark, dir, numBuckets = 4).upsert(rows(keys, 1L))
    // Rewrite the table to the earlier layout: each bucket's filter at
    // `b=<i>/_bloom`, referenced by a plain string in the manifest.
    val manifest = java.nio.file.Paths.get(dir, LakeTable.CommitsDirName, "v00000001.json")
    var json = new String(java.nio.file.Files.readAllBytes(manifest), "UTF-8")
    LakeTable.Manifest.fromJson(json).bloomFiles.values.flatten.foreach { rel =>
      val legacy = rel.substring(0, rel.lastIndexOf('/') + 1) + LakeTable.BloomFileName
      java.nio.file.Files.move(
        java.nio.file.Paths.get(dir, rel), java.nio.file.Paths.get(dir, legacy))
      json = json.replace("\"" + rel + "\"", "\"" + legacy + "\"")
    }
    java.nio.file.Files.write(manifest, json.getBytes("UTF-8"))
    val lt = new LakeTable(spark, dir, numBuckets = 4)
    val m = lt.latestManifest().get
    assert(m.bloomFiles.size == 4 && m.bloomFiles.values.forall(ps =>
      ps.size == 1 && ps.head.endsWith("/" + LakeTable.BloomFileName)))
    assertPrunes(lt, keys)
  }
}
