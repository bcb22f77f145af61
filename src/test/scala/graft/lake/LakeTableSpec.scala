package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Test [[LakeIO.ConditionalPublisher]]: hard-link publish — kernel-atomic
  * create-if-absent over the local store, standing in for a real store's
  * conditional PUT (S3 If-None-Match / GCS ifGenerationMatch=0). Top-level
  * class so the reflective `graft.lake.io.conditionalPublisher` property
  * path can instantiate it by name.
  */
class LinkConditionalPublisher extends LakeIO.ConditionalPublisher {
  def putIfAbsent(
      fs: org.apache.hadoop.fs.FileSystem,
      target: org.apache.hadoop.fs.Path,
      content: Array[Byte]): Boolean = {
    val dir = java.nio.file.Paths.get(target.getParent.toUri.getPath)
    java.nio.file.Files.createDirectories(dir)
    val tmp = dir.resolve(s".cp-tmp-${java.util.UUID.randomUUID()}")
    java.nio.file.Files.write(tmp, content)
    try {
      java.nio.file.Files.createLink(
        java.nio.file.Paths.get(target.toUri.getPath), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally java.nio.file.Files.deleteIfExists(tmp)
  }
}

class LakeTableSpec extends SparkSpec {
  import spark.implicits._

  private def rows(t: (String, Long, String)*) =
    t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload")

  test("nextVersion/nextVersions clamp a vacuumed drain target to surviving log versions") {
    // ONE bucket: every version rewrites it, so vacuum(keep=1)
    // deterministically tombstones ALL non-kept manifests (with more
    // buckets a version sharing a still-referenced dir survives — and
    // correctly stays drainable).
    val lt = new LakeTable(spark, tempDir("lake-nv-").toString, numBuckets = 1)
    (1 to 5).foreach(i => lt.upsert(rows((s"k$i", i.toLong, s"v$i"))))
    assert(lt.nextVersion(0L, Some(2L), None).contains(2L))
    assert(lt.nextVersion(0L, Some(2L), Some(3L)).contains(2L))
    assert(lt.nextVersion(2L, None, Some(3L)).contains(3L))
    assert(lt.nextVersion(5L, None, None).isEmpty) // caught up
    lt.vacuum(keepVersions = 1) // only v5 survives
    // The whole (0, 3] target range was vacuumed: the drain yields
    // NOTHING rather than naming tombstoned version 3 (r9 review — a
    // min()-style arithmetic clamp wedged the stream on the WAL'd
    // offset); the next run's fresh target reaches the survivor.
    assert(lt.nextVersion(0L, Some(2L), Some(3L)).isEmpty)
    assert(lt.nextVersion(0L, Some(2L), Some(5L)).contains(5L))

    // Partitioned: per-partition bounds; a partition absent from the
    // frozen target holds its checkpointed position.
    val pt = new PartitionedLakeTable(
      spark, tempDir("lake-nvp-").toString, "day", numBuckets = 2)
    def prow(k: String, ts: Long, day: String) =
      Seq((k, ts, day, "x")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    (1 to 3).foreach(i => pt.upsert(prow(s"a$i", i.toLong, "d1")))
    pt.upsert(prow("b1", 1L, "d2"))
    assert(pt.nextVersions(Map.empty, Some(1L), None) == Map("d1" -> 1L, "d2" -> 1L))
    assert(pt.nextVersions(Map("d1" -> 1L, "d2" -> 1L), Some(1L),
      Some(Map("d1" -> 2L))) == Map("d1" -> 2L, "d2" -> 1L))
    assert(pt.nextVersions(Map("d1" -> 2L, "d2" -> 1L), Some(5L),
      Some(Map("d1" -> 2L))) == Map("d1" -> 2L, "d2" -> 1L)) // converged
  }

  test("upsert into empty table = plain insert") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    val got = lt.snapshot.select("_key", "_ts", "payload").as[(String, Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 1L, "a1"), ("b", 1L, "b1")))
  }

  test("upsert LWW within a batch and across batches; equal _ts -> update wins") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    // within-batch: key 'a' appears twice, max _ts wins
    lt.upsert(rows(("a", 1L, "old"), ("a", 5L, "new"), ("b", 2L, "b1")))
    // across batches: lower _ts loses, equal _ts replaces (update wins)
    lt.upsert(rows(("a", 3L, "stale"), ("b", 2L, "b2")))
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "new"), ("b", "b2")))
  }

  test("upsert accepts map-typed payload columns (tie-break hash is map-safe)") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    val df = Seq(
      ("a", 1L, Map("x" -> 1, "y" -> 2)),
      ("a", 1L, Map("x" -> 1, "y" -> 2)), // exact within-batch tie on _ts
      ("b", 1L, Map("z" -> 3))
    ).toDF(LakeTable.KeyCol, LakeTable.TsCol, "attrs")
    lt.upsert(df) // would throw AnalysisException if maps reached xxhash64
    lt.upsert(Seq(("b", 2L, Map("z" -> 9))).toDF(LakeTable.KeyCol, LakeTable.TsCol, "attrs"))
    val got = lt.snapshot.select("_key", "attrs").as[(String, Map[String, Int])]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", Map("x" -> 1, "y" -> 2)), ("b", Map("z" -> 9))))
  }

  test("delete removes keys; delete of absent key is a no-op") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")))
    lt.delete(Seq("b", "zzz").toDF(LakeTable.KeyCol))
    val got = lt.snapshot.select("_key").as[String].collect().sorted
    assert(got.toSeq == Seq("a", "c"))
  }

  test("merge applies upserts + deletes in ONE commit; replay idempotent") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")))
    val before = lt.latestVersion.get
    // one batch: update a, insert d, delete b — ONE new version
    lt.merge(
      rows(("a", 2L, "a2"), ("d", 1L, "d1")),
      Seq("b").toDF(LakeTable.KeyCol),
      commitId = "m1")
    assert(lt.latestVersion.get == before + 1, "combined merge must commit exactly one version")
    val got = lt.snapshot.select("_key", "payload").as[(String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a2"), ("c", "c1"), ("d", "d1")))
    // replayed commitId: no-op, no version growth
    lt.merge(
      rows(("a", 9L, "STALE-REPLAY")), Seq("c").toDF(LakeTable.KeyCol), commitId = "m1")
    assert(lt.latestVersion.get == before + 1)
    assert(lt.snapshot.count() == 3)
    // overlap: a key both upserted and deleted in one merge -> delete wins
    lt.merge(rows(("e", 1L, "e1")), Seq("e").toDF(LakeTable.KeyCol), commitId = "m2")
    assert(lt.snapshot.filter($"_key" === "e").count() == 0)
  }

  test("merge with only proven-absent deletes and no upserts commits NO version") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1")))
    val before = lt.latestVersion.get
    lt.merge(rows(), Seq("zzz", "yyy").toDF(LakeTable.KeyCol), commitId = "m-absent")
    assert(lt.latestVersion.get == before, "all-absent delete-only merge must not commit")
    // delete-only merge of a PRESENT key still commits one version
    lt.merge(rows(), Seq("a").toDF(LakeTable.KeyCol), commitId = "m-del")
    assert(lt.latestVersion.get == before + 1 && lt.snapshot.count() == 0)
  }

  test("partitioned merge: one commit per touched partition, routed deletes") {
    val dir = tempDir("plake-").toString
    val pt = new graft.lake.PartitionedLakeTable(spark, dir, "day", numBuckets = 2)
    def prows(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    pt.upsert(prows(("a", 1L, "d1", "a1"), ("b", 1L, "d2", "b1"), ("c", 1L, "d3", "c1")))
    val v1 = pt.partitionTable("d1").latestVersion.get
    val v3 = pt.partitionTable("d3").latestVersion.get
    // batch: update a (d1), delete b (d2) — d3 untouched
    pt.merge(
      prows(("a", 2L, "d1", "a2")),
      Seq(("b", "d2")).toDF(LakeTable.KeyCol, "day"),
      commitId = "pm1")
    assert(pt.partitionTable("d1").latestVersion.get == v1 + 1)
    assert(pt.partitionTable("d3").latestVersion.get == v3, "untouched partition must keep its version")
    val got = pt.snapshot.select("_key", "payload").as[(String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a2"), ("c", "c1")))
    // replay of the SAME batch: nothing moves
    pt.merge(
      prows(("a", 2L, "d1", "a2")),
      Seq(("b", "d2")).toDF(LakeTable.KeyCol, "day"),
      commitId = "pm1")
    assert(pt.partitionTable("d1").latestVersion.get == v1 + 1)
    assert(pt.snapshot.count() == 2)
  }

  test("bulkInsert appends without merge; later upserts still LWW-correct") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.bulkInsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")), commitId = "load-1")
    assert(lt.isCommitted("load-1"))
    // zero-shuffle mode writes task-local files into bucket dirs
    lt.bulkInsert(rows(("c", 1L, "c1")), sortMode = "none")
    lt.upsert(rows(("a", 2L, "a2")))
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a2"), ("b", "b1"), ("c", "c1")))
    intercept[IllegalArgumentException](lt.bulkInsert(rows(("d", 1L, "d")), sortMode = "bogus"))
  }

  test("compact coalesces zero-shuffle bulk-load files; state unchanged") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2, bloomOnWrite = false)
    // many input partitions + sortMode=none -> multiple files per bucket
    val many = (0 until 40).map(i => (s"k$i", 1L, s"v$i"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload").repartition(8)
    lt.bulkInsert(many, sortMode = "none")
    def filesPerBucketDirs(): Seq[Int] = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "data"))
        .iterator().asScala.toSeq
        .filter(p => p.getFileName.toString.startsWith("part-") && p.toString.endsWith(".parquet"))
        .groupBy(_.getParent.toString).values.map(_.size).toSeq
    }
    val before = lt.snapshot.orderBy("_key").collect().toSeq
    assert(filesPerBucketDirs().exists(_ > 1), "bulk sortMode=none should leave multiple files")
    lt.compact()
    lt.vacuum(keepVersions = 1)
    assert(filesPerBucketDirs().forall(_ == 1), "compact must leave one file group per bucket")
    assert(lt.snapshot.orderBy("_key").collect().toSeq == before, "state must be unchanged")
  }

  test("delete of bloom-proven-absent keys commits NO new version") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    val v = lt.latestVersion
    lt.delete(Seq("definitely-not-here", "also-absent").toDF(LakeTable.KeyCol))
    assert(lt.latestVersion == v, "absent-key delete must not grow the commit log")
    lt.delete(Seq("a", "still-absent").toDF(LakeTable.KeyCol))
    assert(lt.latestVersion == v.map(_ + 1), "real delete commits one version")
    assert(lt.snapshot.select("_key").as[String].collect().toSeq == Seq("b"))
  }

  test("bloom sidecars are files beside the data; manifest holds only paths") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")))
    val manifestJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_commits", "v00000001.json")), "UTF-8")
    // No inline blob: at production bucket counts an inlined-bloom manifest
    // is hundreds of MB read per commit; ours must stay KB-sized.
    assert(manifestJson.length < 8192, s"manifest must stay small: ${manifestJson.length}B")
    val m = LakeTable.Manifest.fromJson(manifestJson)
    assert(m.bloomFiles.nonEmpty)
    m.bloomFiles.foreach { case (b, rels) =>
      assert(rels.size == 1, s"one data file, one sidecar: $rels")
      rels.foreach { rel =>
        assert(rel.contains(s"/b=$b/${LakeTable.BloomFileName}-"), rel)
        assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, rel)),
          s"sidecar file must exist: $rel")
      }
    }
    // `_`-prefixed sidecars are invisible to the parquet reader
    assert(lt.snapshot.count() == 3)
    // and the carried-forward paths keep pruning deletes (absent keys -> no version)
    val v = lt.latestVersion
    lt.delete(Seq("definitely-absent").toDF(LakeTable.KeyCol))
    assert(lt.latestVersion == v)
  }

  test("delete bloom-prune runs through the native expression, no Scala UDF node") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 8)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    // parquet-backed key set: a LocalRelation input would be constant-folded
    // driver-side by ConvertToLocalRelation, leaving no plan to check
    val keysPath = tempDir("lake-keys-").toString
    Seq("a", "not-here").toDF(LakeTable.KeyCol).write.mode("overwrite").parquet(keysPath)
    val pruned = lt.bloomPrune(
      spark.read.parquet(keysPath), lt.latestManifest().get)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"),
      s"expected the native prune expression in:\n$plan")
    assert(!plan.contains("UDF"), s"prune plan must not carry a UDF node:\n$plan")
    // the filter stage stays inside whole-stage codegen
    assert(pruned.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.exists(_.toString.contains("bloom_might_contain")),
      s"prune must stay in WholeStageCodegen:\n$plan")
    // semantics: proven-absent key is pruned, present key passes
    assert(pruned.as[String].collect().toSeq == Seq("a"))
    lt.delete(Seq("a", "not-here").toDF(LakeTable.KeyCol))
    assert(lt.snapshot.select("_key").as[String].collect().toSeq == Seq("b"))
  }

  test("PartitionedLakeTable propagates filesPerBucket to its partition tables") {
    val plake = new PartitionedLakeTable(
      spark, tempDir("plake-fpb-").toString, "part", numBuckets = 2, filesPerBucket = 3)
    assert(plake.partitionTable("x").filesPerBucket == 3)
  }

  test("wide table (buckets > 64): bucket-aligned lazy-bloom delete prune stays correct") {
    val lt = new LakeTable(spark, tempDir("lake-wide-").toString, numBuckets = 128)
    val data = (0 until 300).map(i => (s"k$i", 1L, s"v$i"))
    lt.upsert(data.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val v = lt.latestVersion
    // all-absent delete: every key bloom-proven absent -> NO new version,
    // through the repartition(bucketOf) + lazy sidecar-load path
    lt.delete((0 until 50).map(i => s"absent$i").toDF(LakeTable.KeyCol))
    assert(lt.latestVersion == v)
    // mixed delete: present keys go, absent keys prune away
    lt.delete((Seq("k1", "k77", "nope") ++ (0 until 20).map(i => s"gone$i"))
      .toDF(LakeTable.KeyCol))
    assert(lt.snapshot.count() == 298)
    assert(lt.lookup(Seq("k1")).isEmpty && lt.lookup(Seq("k2")).count() == 1)
  }

  test("vacuumed commitIds stay replay-proof; snapshotAt names the vacuum") {
    // One bucket: the second upsert rewrites it, so vacuum can reclaim v1.
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 1)
    lt.upsert(rows(("a", 1L, "a1")), commitId = "c1")
    val v1 = lt.latestVersion.get
    lt.upsert(rows(("b", 2L, "b1")), commitId = "c2")
    assert(lt.vacuum(keepVersions = 1) >= 1)
    // replaying the vacuumed batch's commitId must STILL be a no-op
    assert(lt.isCommitted("c1"))
    lt.upsert(rows(("a", 9L, "GHOST")), commitId = "c1")
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a1"), ("b", "b1")))
    // time travel to the vacuumed version fails with the explicit error
    val e = intercept[IllegalArgumentException](lt.snapshotAt(v1))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("upsert∘delete sequences converge to replayed-map state") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    val ops = Seq( // (op, key, ts, payload)
      ("u", "k1", 1L, "v1"), ("u", "k2", 1L, "v2"), ("d", "k1", 2L, ""),
      ("u", "k3", 2L, "v3"), ("u", "k1", 3L, "v1b"), ("d", "k9", 9L, ""))
    ops.foreach {
      case ("u", k, ts, v) => lt.upsert(rows((k, ts, v)))
      case (_, k, _, _) => lt.delete(Seq(k).toDF(LakeTable.KeyCol))
    }
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("k1", "v1b"), ("k2", "v2"), ("k3", "v3")))
  }

  test("commitId idempotency: replayed batch is a no-op, versions don't grow") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1")), commitId = "b1:up")
    lt.upsert(rows(("a", 9L, "SHOULD_NOT_APPLY")), commitId = "b1:up")
    assert(lt.latestVersion.contains(1L))
    assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("a1"))
    lt.delete(Seq("a").toDF(LakeTable.KeyCol), commitId = "b2:del")
    lt.delete(Seq("a").toDF(LakeTable.KeyCol), commitId = "b2:del")
    assert(lt.latestVersion.contains(2L))
    assert(lt.snapshot.count() == 0)
  }

  test("schema drift: new column appears, old rows read as null") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1")))
    lt.upsert(
      Seq(("b", 1L, "b1", 42)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload", "extra"))
    val got = lt.snapshot.select("_key", "extra").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) -1 else r.getInt(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("a", -1), ("b", 42)))
  }

  test("schema type widening: int widens to long across commits; incompatible fails") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 7)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n")) // n: int
    lt.upsert(Seq(("b", 1L, 5000000000L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n")) // n: long
    val snap = lt.snapshot
    assert(snap.schema("n").dataType == org.apache.spark.sql.types.LongType)
    val got = snap.select("_key", "n").as[(String, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 7L), ("b", 5000000000L)))
    // float→double widening on the same machinery
    lt.upsert(Seq(("a", 2L, 8L, 1.5f)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n", "x"))
    lt.upsert(Seq(("b", 2L, 5000000000L, 2.5d)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n", "x"))
    assert(lt.snapshot.schema("x").dataType == org.apache.spark.sql.types.DoubleType)
    // nested: struct field widens int->long AND gains a new field
    lt.upsert(Seq(("a", 4L, 8L, 1.5d, (1, "p")))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "n", "x", "st"))
    lt.upsert(Seq(("b", 4L, 9L, 2.5d, (6000000000L, "q", true)))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "n", "x", "st"))
    val stType = lt.snapshot.schema("st").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(stType("_1").dataType == org.apache.spark.sql.types.LongType)
    assert(stType.fieldNames.contains("_3"))
    val sts = lt.snapshot.select("_key", "st._1", "st._3").orderBy("_key")
      .collect().map(r => (r.getString(0), r.getLong(1), Option(r.get(2))))
    assert(sts.toSeq == Seq(
      ("a", 1L, None), // pre-widening file: upcast + absent field null
      ("b", 6000000000L, Some(true))))
    // an un-widenable change (long -> string payload) fails the commit
    // loudly (ANSI cast error or the manifest's incompatible-change guard,
    // whichever fires first) and leaves the table state untouched
    val before = lt.latestVersion
    intercept[Exception](
      lt.upsert(Seq(("c", 3L, "oops")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "n")))
    assert(lt.latestVersion == before, "failed commit must not publish a version")
    assert(lt.snapshot.count() == 2)
  }

  test("only affected buckets are rewritten") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 8)
    val many = (0 until 64).map(i => (s"k$i", 1L, s"v$i"))
    lt.upsert(many.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    // second commit touches exactly one key -> one bucket dir in the new version
    lt.upsert(rows(("k0", 2L, "v0b")))
    val dataDir = java.nio.file.Paths.get(dir, LakeTable.DataDirName)
    val versions = java.nio.file.Files.list(dataDir).iterator()
    var newest: java.nio.file.Path = null
    while (versions.hasNext) { val p = versions.next(); if (newest == null || p.getFileName.toString > newest.getFileName.toString) newest = p }
    val bucketDirs = java.nio.file.Files.list(newest).iterator()
    var n = 0
    while (bucketDirs.hasNext) {
      if (bucketDirs.next().getFileName.toString.startsWith("b=")) n += 1
    }
    assert(n == 1, "a single-key upsert must rewrite exactly one bucket")
    // and the full state is still correct
    assert(lt.snapshot.count() == 64)
    assert(lt.snapshot.filter(col("_key") === "k0").select("payload").as[String].head() == "v0b")
  }

  test("lookup prunes via bloom sidecars and returns the right rows") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 8)
    val many = (0 until 100).map(i => (s"k$i", 1L, s"v$i"))
    lt.upsert(many.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val got = lt.lookup(Seq("k7", "k42", "absent"))
      .select("_key", "payload").as[(String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("k42", "v42"), ("k7", "v7")))
  }

  test("probeKeys returns exactly the present keys, distributed, blooms on and off") {
    for (blooms <- Seq(true, false)) {
      val lt = new LakeTable(
        spark, tempDir("lake-probe-").toString, numBuckets = 8, bloomOnWrite = blooms)
      // empty table: schema-stable empty result
      assert(lt.probeKeys(Seq("x").toDF(LakeTable.KeyCol)).count() == 0)
      lt.upsert((0 until 100).map(i => (s"k$i", 1L, s"v$i"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
      val probe = (Seq("k7", "k42", "k99") ++ (0 until 50).map(i => s"absent$i") :+ "k7")
        .toDF(LakeTable.KeyCol)
      val got = lt.probeKeys(probe).as[String].collect().sorted
      assert(got.toSeq == Seq("k42", "k7", "k99"), s"blooms=$blooms")
      // all-absent probe: no rows (and with blooms, no bucket scanned)
      assert(lt.probeKeys(Seq("nope").toDF(LakeTable.KeyCol)).count() == 0)
    }
  }

  test("probeKeys pins the manifest version it was asked for") {
    val lt = new LakeTable(spark, tempDir("lake-probe-v-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1")))
    val v1 = lt.latestVersion
    lt.upsert(rows(("b", 2L, "b1")))
    val probe = Seq("a", "b").toDF(LakeTable.KeyCol)
    assert(lt.probeKeys(probe).as[String].collect().sorted.toSeq == Seq("a", "b"))
    assert(lt.probeKeys(probe, atVersion = v1).as[String].collect().toSeq == Seq("a"),
      "a pinned probe must not see keys committed after its version")
  }

  test("probeKeys collects its candidate buckets in one job") {
    val lt = new LakeTable(spark, tempDir("lake-probe-jobs-").toString, numBuckets = 8)
    lt.upsert((0 until 100).map(i => (s"k$i", 1L, s"v$i"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val probe = Seq("k7", "k42", "absent").toDF(LakeTable.KeyCol)
    val sc = spark.sparkContext
    val bp = new org.apache.spark.graft.BenchProbe
    bp.install(sc)
    try {
      bp.harvest(sc)
      val got = lt.probeKeys(probe)
      // the key-set checkpoint plus one exchange-free routing collect
      assert(bp.harvest(sc)("jobs") === 3L)
      assert(got.as[String].collect().sorted.toSeq == Seq("k42", "k7"))
    } finally sc.removeSparkListener(bp)
  }

  test("rowsForKeys returns FULL stored rows for present keys; MOR stacks collapse (r17)") {
    // plain table: full rows, duplicates in the probe are harmless,
    // absent keys contribute nothing; empty table = zero-column empty
    val lt = new LakeTable(spark, tempDir("lake-rfk-").toString, numBuckets = 4)
    assert(lt.rowsForKeys(Seq("x").toDF(LakeTable.KeyCol)).count() == 0)
    lt.upsert((0 until 50).map(i => (s"k$i", 1L, s"v$i"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val got = lt.rowsForKeys(Seq("k7", "k42", "absent", "k7").toDF(LakeTable.KeyCol))
      .select("_key", "_ts", "payload").as[(String, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("k42", 1L, "v42"), ("k7", 1L, "v7")))
    // MOR: the probed rows must be the COLLAPSED stack state, not raw deltas
    val m = new LakeTable(spark, tempDir("lake-rfk-mor-").toString,
      numBuckets = 2, tableType = LakeTable.MorType, compactAfter = 8)
    m.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")), "c0")
    m.upsert(rows(("a", 3L, "a3")), "c1") // delta layer
    assert(m.latestManifest().get.deltas.values.flatten.nonEmpty)
    val mg = m.rowsForKeys(Seq("a", "b").toDF(LakeTable.KeyCol))
      .select("_key", "_ts", "payload").as[(String, Long, String)].collect().toSet
    assert(mg == Set(("a", 3L, "a3"), ("b", 1L, "b1")))
  }

  test("partitioned probeKeys/rowsForKeys union partitions; mixed merge modes fail loudly (r17)") {
    val pt = new PartitionedLakeTable(
      spark, tempDir("lake-pprobe-").toString, "region", numBuckets = 2)
    // empty table: schema-stable empty key frame
    assert(pt.probeKeys(Seq("x").toDF(LakeTable.KeyCol)).count() == 0)
    pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"), ("c", 1L, 30L, "eu"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    val probe = Seq("a", "b", "ghost").toDF(LakeTable.KeyCol)
    assert(pt.probeKeys(probe).as[String].collect().sorted.toSeq == Seq("a", "b"))
    val rfk = pt.rowsForKeys(probe)
      .select("_key", "amount", "region").as[(String, Long, String)].collect().toSet
    assert(rfk == Set(("a", 10L, "eu"), ("b", 20L, "us")),
      "rowsForKeys must re-attach the partition value")
    // mixed per-partition merge modes: loud, never an arbitrary first pick
    pt.partitionTable("eu").latchPartial(commitId = "latch-eu")
    val e = intercept[IllegalStateException](pt.isPartialTable)
    assert(e.getMessage.contains("mixed merge modes"), e.getMessage)
  }

  test("bloomOnWrite=false skips sidecars; lookup still correct via bucket pruning") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 8, bloomOnWrite = false)
    val many = (0 until 50).map(i => (s"k$i", 1L, s"v$i"))
    lt.upsert(many.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val got = lt.lookup(Seq("k7", "absent"))
      .select("_key", "payload").as[(String, String)].collect()
    assert(got.toSeq == Seq(("k7", "v7")))
  }

  test("vacuum removes unreferenced version dirs, keeps live buckets, state intact") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    lt.upsert(rows(("a", 2L, "a2"), ("b", 2L, "b2"), ("c", 2L, "c2")))
    lt.upsert(rows(("a", 3L, "a3")))
    val removed = lt.vacuum(keepVersions = 1)
    assert(removed >= 1, "older fully-superseded version dirs should be removed")
    // v3 carries forward v2's untouched buckets; the merged state must read
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a3"), ("b", "b2"), ("c", "c2")))
    // idempotency memory survives vacuum (commit files retained)
    lt.upsert(rows(("z", 9L, "z")), commitId = "late")
    assert(lt.isCommitted("late"))
  }

  test("vacuumed commitIds stay replay-proof; snapshotAt on them names the vacuum") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "v1")), commitId = "batch-1")
    lt.upsert(rows(("a", 2L, "v2"), ("b", 2L, "b2")), commitId = "batch-2")
    assert(lt.vacuum(keepVersions = 1) >= 1)
    // replaying the vacuumed batch's commitId must stay a no-op
    assert(lt.isCommitted("batch-1"))
    lt.upsert(rows(("a", 99L, "GHOST")), commitId = "batch-1")
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "v2"), ("b", "b2")))
    // time travel to the dead version fails with the vacuum error, not an
    // opaque FileNotFoundException mid-scan
    val e = intercept[IllegalArgumentException](lt.snapshotAt(1L))
    assert(e.getMessage.contains("vacuumed"))
  }

  test("filesPerBucket > 1 splits bucket writes and preserves semantics") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2, filesPerBucket = 3)
    val many = (0 until 40).map(i => (s"k$i", 1L, s"v$i"))
    lt.upsert(many.toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    lt.upsert(rows(("k1", 2L, "v1b")))
    assert(lt.snapshot.count() == 40)
    assert(lt.snapshot.filter(col("_key") === "k1").select("payload").as[String].head() == "v1b")
  }

  test("commit writes keep the bucket file layout at fpb=1 and fpb=3") {
    // The write's repartition is dropped by the planner when the LWW
    // aggregate already ran on the bucket layout — the failure mode of a
    // layout mismatch is silent file-count drift, so pin the layout:
    // fpb=1 leaves EXACTLY one file per bucket dir per commit, fpb=3
    // between one and three — exactly three here, since every bucket has
    // keys of all three salts and each salt owns a task.
    import scala.jdk.CollectionConverters._
    def bucketFiles(dir: String): Seq[Int] = {
      val data = java.nio.file.Paths.get(dir, "data")
      val commit = java.nio.file.Files.list(data).iterator().next()
      java.nio.file.Files.list(commit).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith("b="))
        .map(b => java.nio.file.Files.list(b).iterator().asScala
          .count(_.getFileName.toString.endsWith(".parquet")))
    }
    def load(lt: LakeTable): Unit = lt.upsert((0 until 2000).map(i => (s"k$i", 1L, s"v$i"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload"))
    val d1 = tempDir("lake-layout1-").toString
    load(new LakeTable(spark, d1, numBuckets = 4))
    val f1 = bucketFiles(d1)
    assert(f1.size == 4 && f1.forall(_ == 1),
      s"fpb=1 upsert must leave ONE file per bucket dir, got $f1")
    val d3 = tempDir("lake-layout3-").toString
    load(new LakeTable(spark, d3, numBuckets = 4, filesPerBucket = 3))
    val f3 = bucketFiles(d3)
    assert(f3.size == 4 && f3.forall(_ == 3),
      s"fpb=3 upsert must leave 3 files per bucket dir, got $f3")
  }

  test("snapshotAt reads historical versions until vacuumed") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "v1")))
    lt.upsert(rows(("a", 2L, "v2")))
    assert(lt.snapshotAt(1L).select("payload").as[String].collect().toSeq == Seq("v1"))
    assert(lt.snapshotAt(2L).select("payload").as[String].collect().toSeq == Seq("v2"))
    intercept[IllegalArgumentException](lt.snapshotAt(99L))
  }

  test("commit times stamp every publish; versionAt resolves instants to versions") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    val before = System.currentTimeMillis()
    lt.upsert(rows(("a", 1L, "v1")))
    Thread.sleep(5) // commit-time resolution is millis
    val betweenT = System.currentTimeMillis()
    Thread.sleep(5)
    lt.upsert(rows(("a", 2L, "v2")))
    val times = lt.commitTimes()
    assert(times.map(_._1) == Seq(1L, 2L))
    assert(times.forall(_._2 >= before), s"unstamped commit: $times")
    // an instant between the commits resolves to v1; now resolves to v2;
    // before the first commit resolves to nothing (empty table then)
    assert(lt.versionAt(betweenT) == Some(1L))
    assert(lt.versionAt(System.currentTimeMillis()) == Some(2L))
    assert(lt.versionAt(before - 1) == None)

    // partitioned: each partition resolves independently; a partition
    // born after the instant is absent from the vector
    val plt = new PartitionedLakeTable(
      spark, tempDir("plake-").toString, "day", numBuckets = 2)
    plt.upsert(Seq(("a", 1L, "d1", "x1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    plt.upsert(Seq(("a", 2L, "d1", "x2"), ("b", 1L, "d2", "y1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    assert(plt.versionsAt(mid) == Map("d1" -> 1L))
    assert(plt.versionsAt(System.currentTimeMillis()) == Map("d1" -> 2L, "d2" -> 1L))
  }

  test("incrementalBetweenTimes reads the commits inside an instant range") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    val t0 = System.currentTimeMillis() - 1
    lt.upsert(rows(("a", 1L, "v1")))
    Thread.sleep(5)
    val t1 = System.currentTimeMillis()
    Thread.sleep(5)
    lt.upsert(rows(("b", 1L, "w1")))
    lt.upsert(rows(("a", 2L, "v2")))
    val t2 = System.currentTimeMillis()
    def got(b: Long, e: Long) = lt.incrementalBetweenTimes(b, e)
      .select("payload").as[String].collect().sorted.toSeq
    assert(got(t0, t2) == Seq("v2", "w1"), "from birth: full current state")
    assert(got(t1, t2) == Seq("v2", "w1"), "changes after t1 (v2 + w1)")
    assert(got(t2, t2 + 10) == Seq.empty, "nothing committed in range")
    assert(got(0L, t0) == Seq.empty, "range before birth: empty, not an error")
    assert(lt.incrementalBetweenTimes(t2, t2 + 10).schema.fieldNames.contains("payload"))
    intercept[IllegalArgumentException](lt.incrementalBetweenTimes(5L, 1L))
  }

  test("savepoints pin versions against every vacuum policy until released") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "v1")))
    lt.upsert(rows(("a", 2L, "v2")))
    lt.upsert(rows(("a", 3L, "v3")))
    lt.savepoint(1L)
    lt.savepoint(1L) // idempotent
    assert(lt.savepoints == Seq(1L))
    assert(lt.vacuum(1) > 0) // v2's dirs reclaim; v1 is pinned
    assert(lt.snapshotAt(1L).select("payload").as[String].collect().toSeq == Seq("v1"))
    intercept[IllegalArgumentException](lt.snapshotAt(2L))
    // restore to the savepointed version still works
    lt.restoreTo(1L)
    assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v1"))
    // release -> once nothing live references its dirs, vacuum reclaims
    lt.releaseSavepoint(1L)
    assert(lt.savepoints.isEmpty)
    lt.upsert(rows(("a", 9L, "v9"))) // latest no longer shares v1's dirs
    lt.vacuum(1)
    intercept[IllegalArgumentException](lt.snapshotAt(1L))
    // loud: savepointing unknown or vacuumed state
    intercept[IllegalArgumentException](lt.savepoint(99L))
    intercept[IllegalArgumentException](lt.savepoint(2L))
  }

  test("dropPartitions removes whole partitions; unknown values no-op; replay-safe") {
    val plt = new PartitionedLakeTable(
      spark, tempDir("plake-").toString, "day", numBuckets = 2)
    def prow(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    plt.upsert(prow(("a", 1L, "d1", "x"), ("b", 1L, "d2", "y"), ("c", 1L, "d3", "z")))
    assert(plt.dropPartitions(Seq("d2", "nope")) == 1)
    assert(plt.partitions == Seq("d1", "d3"))
    assert(plt.snapshot.select("payload").as[String].collect().sorted.toSeq ==
      Seq("x", "z"))
    assert(plt.dropPartitions(Seq("d2")) == 0) // replayed drop: no-op
    // partitioned time-based retention: each partition trims independently
    plt.upsert(prow(("a", 2L, "d1", "x2")))
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    plt.upsert(prow(("a", 3L, "d1", "x3")))
    assert(plt.vacuumBefore(cut) > 0) // d1's pre-cutoff versions trim
    assert(plt.partitionTable("d3").latestVersion.isDefined, "quiet d3 untouched")
    assert(plt.snapshot.select("payload").as[String].collect().sorted.toSeq ==
      Seq("x3", "z"))
  }

  test("dropped partitions tombstone: positioned incremental readers fail loudly") {
    val plt = new PartitionedLakeTable(
      spark, tempDir("plake-").toString, "day", numBuckets = 2)
    def prow(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    plt.upsert(prow(("a", 1L, "d1", "x"), ("b", 1L, "d2", "y")))
    val vec = plt.currentVersions
    assert(vec.keySet == Set("d1", "d2"))
    plt.dropPartitions(Seq("d2"))
    assert(plt.droppedPartitions == Set("d2"))
    // a reader positioned on the dropped partition must fail, not
    // silently lose d2's tail from subsequent batches
    intercept[IllegalStateException](plt.incrementalSince(vec))
    intercept[IllegalStateException](plt.nextVersions(vec, None, None))
    // readers never positioned on d2 are unaffected
    val ok = plt.incrementalSince(vec - "d2")
    assert(ok.count() == 0)
    // a REBORN partition clears its tombstone: fresh history, and a fresh
    // consumer reads it from scratch
    plt.upsert(prow(("c", 2L, "d2", "y2")))
    assert(plt.droppedPartitions.isEmpty)
    assert(plt.incrementalSince(Map("d1" -> vec("d1")))
      .select("payload").as[String].collect().toSeq == Seq("y2"))
  }

  test("vacuumBefore keeps versions newer than the cutoff, always at least the latest") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "v1")))
    lt.upsert(rows(("a", 2L, "v2")))
    Thread.sleep(5)
    val cut = System.currentTimeMillis()
    Thread.sleep(5)
    lt.upsert(rows(("a", 3L, "v3")))
    // cutoff between v2 and v3: v1/v2's dirs become removable, v3 stays
    assert(lt.vacuumBefore(cut) > 0)
    assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v3"))
    intercept[IllegalArgumentException](lt.snapshotAt(1L))
    // a cutoff in the future still keeps the latest (table stays readable)
    assert(lt.vacuumBefore(System.currentTimeMillis() + 3600000L) == 0)
    assert(lt.snapshot.count() == 1)
  }

  test("mergeMode=partial composes per-column newest-non-null fragments") {
    val lt = new LakeTable(
      spark, tempDir("lake-").toString, numBuckets = 2,
      mergeMode = LakeTable.PartialMode)
    def frag(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
    lt.upsert(frag(("a", 10L, "alice", "rome"), ("b", 10L, "bob", "oslo")))
    // fragment updates: each carries ONE column, null elsewhere
    lt.upsert(frag(("a", 20L, null, "paris"))) // a: city advances, name kept
    lt.upsert(frag(("a", 30L, "ALICE", null), ("b", 20L, null, null))) // b: no-op fragment
    val got = lt.snapshot
      .select(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
      .as[(String, Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      ("a", 30L, "ALICE", "paris"), // _ts = newest fragment's
      ("b", 20L, "bob", "oslo")))
    // an OLDER fragment cannot regress a newer column value
    lt.upsert(frag(("a", 1L, "stale", "stale")))
    assert(lt.snapshot.filter(col(LakeTable.KeyCol) === "a")
      .select("name", "city").as[(String, String)].head() == ("ALICE", "paris"))
    // ASSOCIATIVITY: a late-arriving MIDDLE-aged fragment must beat the
    // column's older winner even though the merged row's _ts (30) is
    // newer — the per-column _pts times decide, not the row time
    lt.upsert(frag(("a", 25L, null, "lyon"))) // city: 25 > 20, wins; name: 30 stands
    assert(lt.snapshot.filter(col(LakeTable.KeyCol) === "a")
      .select("name", "city").as[(String, String)].head() == ("ALICE", "lyon"))
    // the meta column never leaks into reads and is rejected as payload
    assert(!lt.snapshot.columns.contains(LakeTable.PtsCol))
    intercept[IllegalArgumentException] {
      lt.upsert(Seq(("x", 1L, Map("a" -> 1L)))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, LakeTable.PtsCol))
    }
    // deletes still drop the whole row
    lt.delete(Seq("b").toDF(LakeTable.KeyCol))
    assert(lt.snapshot.count() == 1)
    // the same commits under the DEFAULT mode erase columns instead
    val ow = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    ow.upsert(frag(("a", 1L, "alice", "rome")))
    ow.upsert(frag(("a", 2L, null, "paris")))
    assert(ow.snapshot.select("name", "city").as[(String, String)].head() ==
      ((null, "paris")))
    // r14: partial also works on mor handles (read-side stack collapse) —
    // LakeMorSpec carries the equivalence proof
  }

  test("partial merge is associative: random fragments, random commit orders, one answer") {
    // the ideal semantics, computed directly: per column the non-null
    // value with the greatest ts (ts globally unique by construction)
    val rnd = new scala.util.Random(11)
    val frags: Seq[(String, Long, String, String)] =
      (1L to 60L).map { ts =>
        val k = s"k${rnd.nextInt(6)}"
        val hasName = rnd.nextBoolean()
        val hasCity = !hasName || rnd.nextBoolean()
        (k, ts,
          if (hasName) s"n$ts" else null,
          if (hasCity) s"c$ts" else null)
      }
    def ideal(col: ((String, Long, String, String)) => String): Map[String, String] =
      frags.groupBy(_._1).view.mapValues { fs =>
        fs.filter(f => col(f) != null).sortBy(_._2).lastOption.map(col).orNull
      }.toMap
    val wantName = ideal(_._3)
    val wantCity = ideal(_._4)
    val wantTs = frags.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    for (trial <- 1 to 3) {
      val lt = new LakeTable(
        spark, tempDir("lake-").toString, numBuckets = 2,
        mergeMode = LakeTable.PartialMode)
      // random batch split AND random batch order — the fold must not care
      val nBatches = 2 + rnd.nextInt(3)
      val batches = rnd.shuffle(frags).zipWithIndex
        .groupBy(_._2 % nBatches).toSeq.sortBy(_._1).map(_._2.map(_._1))
      rnd.shuffle(batches).zipWithIndex.foreach { case (b, i) =>
        lt.upsert(b.toDF(LakeTable.KeyCol, LakeTable.TsCol, "name", "city"),
          commitId = s"t$trial-b$i")
      }
      val got = lt.snapshot
        .select(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
        .as[(String, Long, String, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      frags.map(_._1).distinct.foreach { k =>
        assert(got(k) == ((wantTs(k), wantName(k), wantCity(k))),
          s"trial $trial key $k: got ${got(k)}")
      }
    }
  }

  test("latchPartial migrates a merge-free unlatched table to mergeMode=partial") {
    // Simulate a pre-r14 partial table: its only commits were bulkInserts,
    // which (before the universal null-_pts stamp) left no _pts in the
    // manifest schema — indistinguishable from an overwrite table.
    val dir = tempDir("lake-").toString
    val ow = new LakeTable(spark, dir, numBuckets = 2)
    ow.bulkInsert(Seq(("a", 10L, "alice", "rome"), ("b", 10L, "bob", "oslo"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "name", "city"))
    val pt = new LakeTable(spark, dir, numBuckets = 2,
      mergeMode = LakeTable.PartialMode)
    def frag(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
    // the mode guard rejects the partial handle on the unlatched table...
    val err = intercept[IllegalArgumentException](pt.upsert(frag(("a", 20L, null, "paris"))))
    assert(err.getMessage.contains("latchPartial"))
    // ...latchPartial publishes a manifest-only migration commit...
    val v = pt.latchPartial(commitId = "latch-1")
    assert(v == 2L)
    assert(pt.latchPartial() == 2L, "already latched = no-op, no new version")
    assert(pt.latchPartial(commitId = "latch-1") == 2L, "replayed commitId = no-op")
    // ...after which partial upserts COMPOSE with the pre-latch base rows
    // (their files lack the physical _pts column; the manifest schema
    // reads it as null = raw-fragment semantics)
    pt.upsert(frag(("a", 20L, null, "paris")))
    val got = pt.snapshot
      .select(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
      .as[(String, Long, String, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", 20L, "alice", "paris"), ("b", 10L, "bob", "oslo")))
    // an overwrite handle is now rejected both ways (table is latched)
    intercept[IllegalArgumentException](
      new LakeTable(spark, dir, numBuckets = 2).upsert(frag(("a", 30L, "x", "y"))))
    // empty table: nothing to latch, loud
    intercept[IllegalArgumentException](
      new LakeTable(spark, tempDir("lake-").toString,
        mergeMode = LakeTable.PartialMode).latchPartial())
  }

  test("changesBetween emits the net insert/update/delete diff with images") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")))   // v1
    lt.upsert(rows(("b", 2L, "b2"), ("d", 1L, "d1")))                    // v2
    lt.delete(Seq("c").toDF(LakeTable.KeyCol))                           // v3
    val got = lt.changesBetween(1L, 3L)
      .select("_change_type", LakeTable.KeyCol, "payload")
      .as[(String, String, String)].collect().sortBy(_._2)
    // "a" is untouched -> absent; "b" updated; "c" deleted (BEFORE-image);
    // "d" inserted.
    assert(got.toSeq == Seq(
      ("update_postimage", "b", "b2"),
      ("delete", "c", "c1"),
      ("insert", "d", "d1")))
    // since == until -> empty feed, schema intact
    assert(lt.changesBetween(3L, 3L).count() == 0L)
    intercept[IllegalArgumentException](lt.changesBetween(1L, 99L))
  }

  test("changesBetween conforms the before side across schema drift and widening") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 7), ("b", 1L, 8))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "n"))                     // v1: n int
    lt.upsert(Seq(("b", 2L, 9000000000L, "extra"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "n", "added"))            // v2: widen + add
    val got = lt.changesBetween(1L, 2L)
      .select("_change_type", LakeTable.KeyCol, "n", "added")
      .as[(String, String, Long, Option[String])].collect().sortBy(_._2)
    // "a" gained only a null column -> compares EQUAL, emits nothing.
    assert(got.toSeq == Seq(("update_postimage", "b", 9000000000L, Some("extra"))))
  }

  test("concurrent commit of the same version is rejected atomically") {
    val dir = tempDir("lake-").toString
    val lt1 = new LakeTable(spark, dir, numBuckets = 2)
    val lt2 = new LakeTable(spark, dir, numBuckets = 2) // second writer handle
    lt1.upsert(rows(("a", 1L, "v1")))
    // both handles observed version 1; lt2 commits version 2 first
    lt2.upsert(rows(("b", 1L, "w")))
    // lt1 must not silently clobber: its next commit targets version 3
    lt1.upsert(rows(("c", 1L, "x")))
    val got = new LakeTable(spark, dir, 2).snapshot
      .select("_key").as[String].collect().sorted
    assert(got.toSeq == Seq("a", "b", "c"))
    assert(new LakeTable(spark, dir, 2).latestVersion.contains(3L))
  }

  test("racing writers: ALL writers' rows land via bounded retry-with-remerge") {
    val dir = tempDir("lake-").toString
    new LakeTable(spark, dir, numBuckets = 2).upsert(rows(("seed", 0L, "s")))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    val results =
      try {
        import scala.jdk.CollectionConverters._
        val tasks = (0 until 6).map { i =>
          new java.util.concurrent.Callable[Either[Throwable, Int]] {
            def call() =
              try { new LakeTable(spark, dir, 2).upsert(rows((s"t$i", 1L, s"v$i"))); Right(i) }
              catch { case e: Throwable => Left(e) }
          }
        }.asJava
        pool.invokeAll(tasks).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    // A lost publish race re-merges against the winner's manifest and
    // retries (bounded), so every racer commits — two concurrent CDC
    // streams on one table both make progress.
    val failures = results.collect { case Left(e) => e }
    assert(failures.isEmpty, s"racers must retry past publish conflicts: $failures")
    // and every writer's key is durably present; no torn/partial state
    val keys = new LakeTable(spark, dir, 2).snapshot
      .select("_key").as[String].collect().toSet
    assert(keys.contains("seed"))
    (0 until 6).foreach(i => assert(keys.contains(s"t$i"), s"lost committed write t$i"))
    // a lost attempt's orphaned data dir is cleaned up: every version dir
    // on disk is referenced by some manifest
    val lt = new LakeTable(spark, dir, 2)
    assert(lt.latestVersion.contains(7L), "6 racers + seed = 7 versions")
  }

  test("manifest-only commits racing data commits all land; replays are no-ops") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val dir = tempDir("lake-").toString
    new LakeTable(spark, dir, numBuckets = 2).upsert(
      Seq(("seed", 0L, "s", 7, "o")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "payload", "n", "old"))
    // Six racers on fresh handles: each other racer publishes once, so no
    // racer loses more than MaxCommitRetries times.
    val ops: Seq[(String, LakeTable => Unit)] =
      (0 until 3).map(i => s"up$i" -> ((t: LakeTable) => t.upsert(rows((s"t$i", 1L, s"v$i")), s"up$i"))) ++
        Seq(
          "add" -> ((t: LakeTable) => { t.addColumns(StructType(Seq(StructField("added", StringType))), "add"); () }),
          "widen" -> ((t: LakeTable) => { t.widenColumn("n", LongType, "widen"); () }),
          "rename" -> ((t: LakeTable) => { t.renameColumn("old", "renamed", "rename"); () }))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ops.size)
    val results =
      try {
        import scala.jdk.CollectionConverters._
        val tasks = ops.map { case (id, op) =>
          new java.util.concurrent.Callable[Either[Throwable, String]] {
            def call() =
              try { op(new LakeTable(spark, dir, 2)); Right(id) }
              catch { case e: Throwable => Left(e) }
          }
        }.asJava
        pool.invokeAll(tasks).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    val failures = results.collect { case Left(e) => e }
    assert(failures.isEmpty, s"every racer must retry past publish conflicts: $failures")
    val lt = new LakeTable(spark, dir, 2)
    assert(lt.latestVersion.contains(7L), "6 racers + seed = 7 versions")
    val snap = lt.snapshot
    assert(snap.select("_key").as[String].collect().toSet ==
      Set("seed", "t0", "t1", "t2"))
    // all three schema changes survive every re-merge on top of them
    assert(snap.schema("n").dataType == LongType)
    assert(snap.columns.contains("added") && snap.columns.contains("renamed"))
    assert(!snap.columns.contains("old"))
    assert(snap.filter(col("_key") === "seed").select("n", "renamed").as[(Long, String)]
      .collect().toSeq == Seq((7L, "o")))
    // a replay of every commitId, on a fresh handle, publishes nothing
    ops.foreach { case (_, op) => op(new LakeTable(spark, dir, 2)) }
    assert(new LakeTable(spark, dir, 2).latestVersion.contains(7L))
  }

  test("an affected-bucket hint that misses a written bucket fails the commit, no trace") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4)
    val byBucket = (0 until 64).map(i => s"k$i").groupBy(LakeTable.bucketOfKey(_, 4))
    val Seq(a, b) = byBucket.keys.toSeq.sorted.take(2)
    val Seq(ka) = byBucket(a).take(1)
    val Seq(kb1, kb2) = byBucket(b).take(2)
    lt.upsert(rows((ka, 1L, "a"), (kb1, 1L, "b1"), (kb2, 1L, "b2")), "seed")
    val before = lt.snapshot.select("_key", "payload").as[(String, String)].collect().sorted
    val v = lt.latestVersion
    // the batch touches buckets a and b; the hint names only a
    val e = intercept[IllegalStateException](
      lt.upsert(rows((ka, 2L, "a'"), (kb1, 2L, "b1'")), "bad", Some(Set(a))))
    assert(e.getMessage.contains(s"buckets $b "), e.getMessage)
    assert(lt.latestVersion == v)
    assert(lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sorted.toSeq == before.toSeq)
    // every data dir left on disk is one the latest manifest references
    val live = lt.readManifest(v.get).buckets.values.map(_.split("/")(1)).toSet
    val onDisk = new java.io.File(s"$dir/${LakeTable.DataDirName}").list().toSet
    assert(onDisk == live, s"unreferenced data dirs: ${onDisk -- live}")
  }

  test("generic Hadoop-FS commit protocol: lifecycle green, double publish rejected") {
    // Force the rename-if-absent branch (the one HDFS would take) instead
    // of the local hard-link fast path; the whole lifecycle must behave
    // identically and a same-version double publish must still fail.
    System.setProperty(LakeIO.ForceGenericProp, "true")
    try {
      val dir = tempDir("lake-gen-").toString
      val lt = new LakeTable(spark, dir, numBuckets = 2)
      lt.upsert(rows(("a", 1L, "v1")), commitId = "c1")
      lt.upsert(rows(("a", 2L, "v2"), ("b", 2L, "w")))
      lt.delete(Seq("b").toDF(LakeTable.KeyCol))
      assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v2"))
      assert(lt.isCommitted("c1"))
      assert(lt.snapshotAt(1L).select("payload").as[String].collect().toSeq == Seq("v1"))
      assert(lt.vacuum(keepVersions = 1) >= 1)
      // the publish primitive itself: second writer of the same version loses
      val io = new LakeIO(dir, spark.sparkContext.hadoopConfiguration)
      val target = io.resolve("_commits", "v99999999.json")
      io.publishIfAbsent(target, "{}")
      intercept[IllegalStateException](io.publishIfAbsent(target, "{}"))
    } finally System.clearProperty(LakeIO.ForceGenericProp)
  }

  test("z-order clustered writes sort rows by Morton code within bucket files") {
    val dir = tempDir("lake-").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, zorderBy = Seq("x", "y"))
    val data = scala.util.Random.shuffle(
      for (x <- 0L until 8L; y <- 0L until 8L) yield (s"k$x-$y", 1L, x, y))
    lt.upsert(data.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y"))
    // read the single bucket file directly: rows must be in z-order
    val zs = lt.snapshot.select("x", "y").collect()
      .map(r => graft.util.BitUtil.interleave(r.getLong(0), r.getLong(1)))
    assert(zs.toSeq == zs.sorted.toSeq, "file order should be the Morton order")
    assert(lt.snapshot.count() == 64)
  }

  test("zorderBy declarations take 2-4 distinct columns") {
    val dir = tempDir("lake-").toString
    Seq(Seq("x"), Seq("x", "x"), Seq("x", "X"), Seq("a", "b", "c", "d", "e")).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        new LakeTable(spark, dir, numBuckets = 1, zorderBy = bad))
      assert(e.getMessage.contains("2-4"), e.getMessage)
    }
    // valid declarations construct
    new LakeTable(spark, dir, numBuckets = 1, zorderBy = Seq("x", "y", "z", "w"))
    new LakeTable(spark, dir, numBuckets = 1, zorderBy = Nil)
  }

  test("object-store commit protocol: owner-token lifecycle green, races lose deterministically") {
    // Simulated store with NON-ATOMIC rename semantics (VERDICT r6 #8): the
    // owner-token branch never calls rename at all — a commit is a
    // unique-named PUT plus listings. The whole table lifecycle must behave
    // identically to the atomic branches.
    System.setProperty(LakeIO.ForceObjectStoreProp, "true")
    try {
      val dir = tempDir("lake-os-").toString
      val lt = new LakeTable(spark, dir, numBuckets = 2)
      lt.upsert(rows(("a", 1L, "v1")), commitId = "c1")
      lt.upsert(rows(("a", 2L, "v2"), ("b", 2L, "w")))
      lt.delete(Seq("b").toDF(LakeTable.KeyCol))
      assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v2"))
      assert(lt.isCommitted("c1"))
      assert(lt.snapshotAt(1L).select("payload").as[String].collect().toSeq == Seq("v1"))
      // No plain manifest objects exist — only owner files.
      val commitsDir = java.nio.file.Paths.get(dir, "_commits")
      import scala.jdk.CollectionConverters._
      def commitFiles = java.nio.file.Files.list(commitsDir).iterator().asScala
        .map(_.getFileName.toString).filter(_.startsWith("v")).toSeq
      assert(commitFiles.nonEmpty && commitFiles.forall(_.contains(".owner-")),
        s"owner-token mode must not write plain manifests, got $commitFiles")

      // Vacuum sweeps owner files of dead versions.
      assert(lt.vacuum(keepVersions = 1) >= 1)
      assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v2"))

      // Partitioned layout on the same protocol: _table.json and every
      // per-partition commit go through owner-token publishes too.
      val pdir = tempDir("lake-os-p-").toString
      val plt = new PartitionedLakeTable(spark, pdir, "day", numBuckets = 2)
      plt.upsert(Seq(("a", 1L, "2024-01-01", "va"), ("c", 1L, "2024-01-02", "vc"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
      plt.upsert(Seq(("a", 2L, "2024-01-01", "va2"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
      assert(plt.snapshot.select("_key", "payload").as[(String, String)]
        .collect().sortBy(_._1).toSeq == Seq(("a", "va2"), ("c", "vc")))
      assert(PartitionedLakeTable.open(spark, pdir, 2).isDefined,
        "layout detection must resolve the owner-token-published _table.json")

      // Primitive-level checks on a scratch dir (not the table's log).
      // Same-version double publish: second claim loses.
      val io = new LakeIO(dir, spark.sparkContext.hadoopConfiguration)
      val scratch = java.nio.file.Paths.get(dir, "_scratch")
      java.nio.file.Files.createDirectories(scratch)
      val target = io.resolve("_scratch", "v1.json")
      io.publishIfAbsent(target, """{"w":1}""")
      intercept[IllegalStateException](io.publishIfAbsent(target, """{"l":2}"""))
      assert(io.readString(target) == """{"w":1}""")

      // Split-brain determinism: even if two racing claims BOTH survived (a
      // rival PUT in flight during both of a claimer's lists), every reader
      // resolves the min-token content — commit history cannot diverge.
      val v = io.resolve("_scratch", "v2.json")
      java.nio.file.Files.writeString(
        scratch.resolve("v2.json.owner-bbb"), """{"from":"b"}""")
      java.nio.file.Files.writeString(
        scratch.resolve("v2.json.owner-aaa"), """{"from":"a"}""")
      assert(io.readString(v) == """{"from":"a"}""")
      assert(io.exists(v))
      intercept[IllegalStateException](io.publishIfAbsent(v, """{"from":"c"}"""))

      // Concurrent publishers from many threads: exactly one wins.
      val race = io.resolve("_scratch", "v3.json")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val results =
        try (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Option[Int]] {
            def call(): Option[Int] =
              try { io.publishIfAbsent(race, s"""{"racer":$i}"""); Some(i) }
              catch { case _: IllegalStateException => None }
          })
        }.flatMap(_.get())
        finally pool.shutdown()
      assert(results.size == 1, s"exactly one racer must win, got $results")
      assert(io.readString(race) == s"""{"racer":${results.head}}""")
    } finally System.clearProperty(LakeIO.ForceObjectStoreProp)
  }

  test("conditional-PUT publisher replaces the owner-token protocol when registered") {
    System.setProperty(LakeIO.ForceObjectStoreProp, "true")
    LakeIO.registerConditionalPublisher(new LinkConditionalPublisher)
    try {
      // Full lifecycle through the conditional path: commits are PLAIN
      // manifest objects, no owner files anywhere.
      val dir = tempDir("lake-cp-").toString
      val lt = new LakeTable(spark, dir, numBuckets = 2)
      lt.upsert(rows(("a", 1L, "v1")), commitId = "c1")
      lt.upsert(rows(("a", 2L, "v2"), ("b", 2L, "w")))
      lt.delete(Seq("b").toDF(LakeTable.KeyCol))
      assert(lt.snapshot.select("payload").as[String].collect().toSeq == Seq("v2"))
      assert(lt.isCommitted("c1"))
      assert(lt.snapshotAt(1L).select("payload").as[String].collect().toSeq == Seq("v1"))
      import scala.jdk.CollectionConverters._
      val commitFiles = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_commits"))
        .iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("v")).toSeq
      assert(commitFiles.nonEmpty && commitFiles.forall(!_.contains(".owner-")),
        s"conditional-PUT mode must write plain manifests only, got $commitFiles")

      // Concurrent publishers: the store's atomic create arbitrates.
      val io = new LakeIO(dir, spark.sparkContext.hadoopConfiguration)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "_scratch"))
      val race = io.resolve("_scratch", "v1.json")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val winners =
        try (0 until 8).map { i =>
          pool.submit(new java.util.concurrent.Callable[Option[Int]] {
            def call(): Option[Int] =
              try { io.publishIfAbsent(race, s"""{"racer":$i}"""); Some(i) }
              catch { case _: IllegalStateException => None }
          })
        }.flatMap(_.get())
        finally pool.shutdown()
      assert(winners.size == 1, s"exactly one racer must win, got $winners")
      assert(io.readString(race) == s"""{"racer":${winners.head}}""")

      // A version already committed via owner tokens (pre-migration
      // history) must refuse a conditional re-publish.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(dir, "_scratch", "v2.json.owner-aaa"), """{"from":"a"}""")
      intercept[IllegalStateException](
        io.publishIfAbsent(io.resolve("_scratch", "v2.json"), """{"from":"c"}"""))

      // Reflective property path: clear the programmatic registration and
      // name the class instead — publishes still take the conditional path.
      LakeIO.clearConditionalPublisher()
      System.setProperty(
        LakeIO.ConditionalPublisherProp, classOf[LinkConditionalPublisher].getName)
      try {
        io.publishIfAbsent(io.resolve("_scratch", "v3.json"), """{"p":"prop"}""")
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(dir, "_scratch", "v3.json")))
      } finally System.clearProperty(LakeIO.ConditionalPublisherProp)

      // Without any publisher the owner-token protocol is back.
      io.publishIfAbsent(io.resolve("_scratch", "v4.json"), """{"p":"ot"}""")
      val v4 = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_scratch"))
        .iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("v4.json")).toSeq
      assert(v4.nonEmpty && v4.forall(_.contains(".owner-")),
        s"owner-token fallback expected, got $v4")
    } finally {
      LakeIO.clearConditionalPublisher()
      System.clearProperty(LakeIO.ForceObjectStoreProp)
    }
  }

  test("z-order clustering prunes row groups for a 2-D range predicate") {
    // Effectiveness, not just ordering (VERDICT r6 #7): with and without
    // zorderBy, write the same points, then count how many parquet row
    // groups COULD contain rows of a small 2-D box according to footer
    // min/max stats — the exact pruning decision a scan makes. Tiny
    // parquet.block.size forces many row groups so there is something to
    // prune at test scale.
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      val rnd = new scala.util.Random(42)
      val pts = (0 until 40000).map(i => (s"k$i", 1L, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      def build(zorder: Seq[String]): String = {
        val dir = tempDir("lake-z-").toString
        new LakeTable(spark, dir, numBuckets = 1, zorderBy = zorder)
          .upsert(pts.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y"))
        dir
      }
      // Row groups whose [min,max] on BOTH dims intersect the box
      // x,y in [192, 255] (1/256 of the key space).
      def matchingRowGroups(dir: String): (Int, Int) = {
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala
          .filter(p => p.toString.endsWith(".parquet")).toSeq
        assert(files.nonEmpty)
        val groups = files.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p.toString), hc)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.map { block =>
            val stats = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            def range(col: String): (Long, Long) = {
              val s = stats(col)
              (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
            (range("x"), range("y"))
          }.toSeq
          finally r.close()
        }
        val hit = groups.count { case ((xlo, xhi), (ylo, yhi)) =>
          xhi >= 192 && xlo <= 255 && yhi >= 192 && ylo <= 255
        }
        (hit, groups.size)
      }
      val (plainHit, plainTotal) = matchingRowGroups(build(Nil))
      val (zHit, zTotal) = matchingRowGroups(build(Seq("x", "y")))
      assert(plainTotal >= 8 && zTotal >= 8,
        s"need multiple row groups to measure pruning (got $plainTotal / $zTotal)")
      // Random order: virtually every ~1.6k-row group holds a point of the
      // box. Morton order: the box's z-ranges land in few groups.
      assert(zHit * 2 <= plainHit,
        s"z-ordered scan should prune at least half the row groups the " +
          s"unclustered scan reads (clustered $zHit/$zTotal vs plain $plainHit/$plainTotal)")
    } finally {
      oldBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
    }
  }

  test("z-order clustering prunes row groups for a 3-D range predicate (VERDICT r12 #7)") {
    // Same effectiveness harness as the 2-D case, one more dimension: the
    // 3-D path normalizes each dimension by the commit's min/max into the
    // 21-bit Morton lane, so a box predicate on all three dims should land
    // in few row groups of the clustered file vs nearly all of the
    // unclustered one.
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      val rnd = new scala.util.Random(42)
      val pts = (0 until 40000).map(i => (s"k$i", 1L,
        rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      def build(zorder: Seq[String]): String = {
        val dir = tempDir("lake-z3-").toString
        new LakeTable(spark, dir, numBuckets = 1, zorderBy = zorder)
          .upsert(pts.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y", "w"))
        dir
      }
      // Row groups whose [min,max] on ALL dims intersect the box
      // x,y,w in [256, 511] (1/64 of the space).
      def matchingRowGroups(dir: String): (Int, Int) = {
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala
          .filter(p => p.toString.endsWith(".parquet")).toSeq
        assert(files.nonEmpty)
        val groups = files.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p.toString), hc)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.map { block =>
            val stats = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            def range(col: String): (Long, Long) = {
              val s = stats(col)
              (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
            Seq(range("x"), range("y"), range("w"))
          }.toSeq
          finally r.close()
        }
        val hit = groups.count(_.forall { case (lo, hi) => hi >= 256 && lo <= 511 })
        (hit, groups.size)
      }
      val (plainHit, plainTotal) = matchingRowGroups(build(Nil))
      val (zHit, zTotal) = matchingRowGroups(build(Seq("x", "y", "w")))
      assert(plainTotal >= 8 && zTotal >= 8,
        s"need multiple row groups to measure pruning (got $plainTotal / $zTotal)")
      assert(zHit * 2 <= plainHit,
        s"3-D z-order should prune at least half the row groups the " +
          s"unclustered scan reads (clustered $zHit/$zTotal vs plain $plainHit/$plainTotal)")
    } finally {
      oldBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
    }
  }

  test("z-order clustering prunes row groups for a 4-D range predicate (unsigned code order)") {
    // Same harness, four dimensions. The 4-D interleave places dim-4 bit 15
    // at bit 63, so half of each commit's normalized rows carry NEGATIVE
    // Morton codes — the sort must order the code unsigned or the curve
    // splits into two swapped halves at the dim-4 midpoint (r13 review).
    // The box straddles that midpoint (d in [448, 703] maps across 32768
    // after per-commit normalization of [0, 1023]) so a broken MSB costs
    // boundary groups on exactly this predicate.
    val hc = spark.sparkContext.hadoopConfiguration
    val oldBlock = Option(hc.get("parquet.block.size"))
    hc.setInt("parquet.block.size", 16 * 1024)
    try {
      val rnd = new scala.util.Random(42)
      val pts = (0 until 40000).map(i => (s"k$i", 1L,
        rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong,
        rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
      def build(zorder: Seq[String]): String = {
        val dir = tempDir("lake-z4-").toString
        new LakeTable(spark, dir, numBuckets = 1, zorderBy = zorder)
          .upsert(pts.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y", "w", "d"))
        dir
      }
      def matchingRowGroups(dir: String): (Int, Int) = {
        import scala.jdk.CollectionConverters._
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala
          .filter(p => p.toString.endsWith(".parquet")).toSeq
        assert(files.nonEmpty)
        val groups = files.flatMap { p =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new org.apache.hadoop.fs.Path(p.toString), hc)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks.asScala.map { block =>
            val stats = block.getColumns.asScala
              .map(c => c.getPath.toDotString -> c.getStatistics).toMap
            def range(col: String): (Long, Long) = {
              val s = stats(col)
              (s.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                s.genericGetMax.asInstanceOf[java.lang.Long].longValue())
            }
            Seq(range("x"), range("y"), range("w"), range("d"))
          }.toSeq
          finally r.close()
        }
        // x,y,w in [256, 511]; d straddles the lane midpoint
        val hit = groups.count { rs =>
          rs.take(3).forall { case (lo, hi) => hi >= 256 && lo <= 511 } &&
            (rs(3)._2 >= 448 && rs(3)._1 <= 703)
        }
        (hit, groups.size)
      }
      val (plainHit, plainTotal) = matchingRowGroups(build(Nil))
      val (zHit, zTotal) = matchingRowGroups(build(Seq("x", "y", "w", "d")))
      assert(plainTotal >= 8 && zTotal >= 8,
        s"need multiple row groups to measure pruning (got $plainTotal / $zTotal)")
      assert(zHit * 2 <= plainHit,
        s"4-D z-order should prune at least half the row groups the " +
          s"unclustered scan reads (clustered $zHit/$zTotal vs plain $plainHit/$plainTotal)")
    } finally {
      oldBlock match {
        case Some(v) => hc.set("parquet.block.size", v)
        case None => hc.unset("parquet.block.size")
      }
    }
  }

  test("restoreTo rolls back without touching data; replay idempotent; vacuum-safe") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))
    val v1 = lt.latestVersion.get
    lt.upsert(rows(("a", 2L, "a2"), ("c", 2L, "c1")))
    lt.delete(Seq("b").toDF(LakeTable.KeyCol))
    val vPre = lt.latestVersion.get

    val rv = lt.restoreTo(v1, commitId = "restore-1")
    assert(rv == vPre + 1, "restore publishes a NEW version")
    val got = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq(("a", "a1"), ("b", "b1")), "state rolled back to v1")
    // undone versions stay time-travel-addressable until vacuumed
    assert(lt.snapshotAt(vPre).select("payload").as[String].collect().sorted.toSeq
      == Seq("a2", "c1"))
    // the restore is a commit like any other: replays are no-ops
    assert(lt.restoreTo(v1, commitId = "restore-1") == rv)
    assert(lt.latestVersion.contains(rv))
    // incremental across the restore emits the reverted rows (no tombstones)
    val inc = lt.incrementalBetween(vPre, rv).select("_key", "payload")
      .as[(String, String)].collect().sortBy(_._1)
    assert(inc.toSeq == Seq(("a", "a1"), ("b", "b1")))
    // vacuum keeps everything the restored manifest references
    lt.vacuum(keepVersions = 1)
    val after = lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(after.toSeq == Seq(("a", "a1"), ("b", "b1")))
    // restoring to a vacuumed version fails loudly
    intercept[IllegalArgumentException](lt.restoreTo(vPre))
  }

  test("incremental read returns exactly the rows changed since a version") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 4)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1"), ("c", 1L, "c1")))
    val v1 = lt.latestVersion.get
    lt.upsert(rows(("a", 2L, "a2"), ("d", 2L, "d1"))) // update a, insert d
    lt.delete(Seq("b").toDF(LakeTable.KeyCol))
    val inc = lt.incremental(v1).select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(inc.toSeq == Seq(("a", "a2"), ("d", "d1")),
      "changed rows only: updated a, inserted d; untouched c and deleted b absent")
    // incremental from latest is empty
    assert(lt.incremental(lt.latestVersion.get).count() == 0)
  }

  test("incremental read reports an equal-_ts overwrite that changes the row") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    lt.upsert(rows(("a", 1L, "a1"), ("b", 1L, "b1")))   // v1
    // a: equal _ts, new payload, replaces the stored row; b: rewritten
    // with an equal row
    lt.upsert(rows(("a", 1L, "a2"), ("b", 1L, "b1")))   // v2
    assert(lt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1).toSeq == Seq(("a", "a2"), ("b", "b1")))
    val inc = lt.incrementalBetween(1L, 2L).select("_key", "payload")
      .as[(String, String)].collect().toSeq
    assert(inc == Seq(("a", "a2")), s"got $inc")
    assert(lt.changesBetween(1L, 2L).select("_change_type", "_key")
      .as[(String, String)].collect().toSeq == Seq(("update_postimage", "a")))
  }

  test("version diffs compare map-typed columns") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 2)
    def put(t: (String, Long, Map[String, Int])*) =
      lt.upsert(t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "attrs"))
    put(("a", 1L, Map("x" -> 1)), ("b", 1L, Map("y" -> 2)))   // v1
    put(("a", 1L, Map("x" -> 5)), ("b", 1L, Map("y" -> 2)))   // v2
    assert(lt.incrementalBetween(1L, 2L).select("_key", "attrs")
      .as[(String, Map[String, Int])].collect().toSeq == Seq(("a", Map("x" -> 5))))
    assert(lt.changesBetween(1L, 2L).select("_change_type", "_key")
      .as[(String, String)].collect().toSeq == Seq(("update_postimage", "a")))
  }

  test("partial-merge incremental catches late fragments that do not advance _ts") {
    val lt = new LakeTable(
      spark, tempDir("lake-").toString, numBuckets = 2,
      mergeMode = LakeTable.PartialMode)
    def frag(t: (String, Long, String, String)*) =
      t.toDF(LakeTable.KeyCol, LakeTable.TsCol, "name", "city")
    lt.upsert(frag(("a", 10L, "alice", "rome"), ("b", 10L, "bob", "oslo")))
    lt.upsert(frag(("a", 20L, "ALICE", null))) // name advances; row _ts = 20
    val v2 = lt.latestVersion.get
    // LATE fragment: city's winner was ts=10, this is ts=15 → city changes
    // to "paris" but the row _ts stays 20 (max fragment time). A
    // (key,_ts)-keyed diff would silently drop this change.
    lt.upsert(frag(("a", 15L, null, "paris")))
    val inc = lt.incremental(v2)
      .select(LakeTable.KeyCol, "name", "city").as[(String, String, String)]
      .collect().toSeq
    assert(inc == Seq(("a", "ALICE", "paris")),
      s"late-fragment content change must appear in the incremental read, got $inc")
    assert(!lt.incremental(v2).columns.contains(LakeTable.PtsCol))
    val v3 = lt.latestVersion.get
    // a re-delivered identical value changes only _pts, not the visible
    // row — correctly NOT re-emitted
    lt.upsert(frag(("a", 16L, null, "paris")))
    assert(lt.incremental(v3).count() == 0,
      "visibly-unchanged row must not re-emit")
    // untouched key b never reappears
    assert(!inc.exists(_._1 == "b"))
  }

  test("partitioned lake table: per-partition writes, pruned reads, idempotency") {
    val plt = new PartitionedLakeTable(spark, tempDir("plake-").toString, "day", numBuckets = 2)
    val batch = Seq(
      ("a", 1L, "2024-01-01", "va"), ("b", 1L, "2024-01-01", "vb"),
      ("c", 1L, "2024-01-02", "vc"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload")
    plt.upsert(batch, commitId = "b1")
    assert(plt.partitions == Seq("2024-01-01", "2024-01-02"))
    // pruned read opens only one partition
    val day1 = plt.snapshot(Seq("2024-01-01"))
      .select("_key", "day").as[(String, String)].collect().sortBy(_._1)
    assert(day1.toSeq == Seq(("a", "2024-01-01"), ("b", "2024-01-01")))
    // update one partition, delete from all; replay is a no-op
    plt.upsert(Seq(("a", 2L, "2024-01-01", "va2"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"), commitId = "b2")
    plt.delete(Seq("c").toDF(LakeTable.KeyCol), commitId = "b3")
    plt.upsert(Seq(("a", 9L, "2024-01-01", "REPLAY"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"), commitId = "b2")
    val all = plt.snapshot.select("_key", "payload").as[(String, String)]
      .collect().sortBy(_._1)
    assert(all.toSeq == Seq(("a", "va2"), ("b", "vb")))
  }

  test("partitioned incremental: version vector addresses partitions independently") {
    val plt = new PartitionedLakeTable(spark, tempDir("plake-").toString, "day", numBuckets = 2)
    plt.upsert(Seq(
      ("a", 1L, "2024-01-01", "va"), ("b", 1L, "2024-01-01", "vb"),
      ("c", 1L, "2024-01-02", "vc"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    val vec = plt.currentVersions
    assert(vec.keySet == Set("2024-01-01", "2024-01-02"))

    // change ONE existing partition + create a NEW one
    plt.upsert(Seq(
      ("a", 2L, "2024-01-01", "va2"),
      ("d", 2L, "2024-01-03", "vd"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    val inc = plt.incrementalSince(vec)
      .select("_key", "day", "payload").as[(String, String, String)]
      .collect().sortBy(_._1)
    assert(inc.toSeq == Seq(
      ("a", "2024-01-01", "va2"), // changed row, partition col re-attached
      ("d", "2024-01-03", "vd")), // new partition: everything
      s"untouched 2024-01-02 must contribute nothing: ${inc.toSeq}")
    // a fresh vector reads as empty (no partition scans at all)
    assert(plt.incrementalSince(plt.currentVersions).isEmpty)
  }

  test("partitioned no-change incremental and no-match reads keep the table schema") {
    val pt = new graft.lake.PartitionedLakeTable(
      spark, tempDir("plake-").toString, "day", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, "d1", "x"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    // ADVICE r8: these returned spark.emptyDataFrame (ZERO columns),
    // breaking batch consumers that select/union the result.
    val inc = pt.incrementalSince(pt.currentVersions)
    assert(inc.isEmpty && inc.columns.toSet == pt.snapshot.columns.toSet,
      s"no-change incremental must keep the schema, got ${inc.columns.toSeq}")
    val none = pt.snapshot(Seq("zzz"))
    assert(none.isEmpty && none.columns.toSet == pt.snapshot.columns.toSet)
  }

  test("routed deletes touch only their partition; untouched partitions keep their version") {
    val plt = new PartitionedLakeTable(spark, tempDir("plake-").toString, "day", numBuckets = 2)
    plt.upsert(Seq(
      ("a", 1L, "2024-01-01", "va"), ("b", 1L, "2024-01-02", "vb"),
      ("c", 1L, "2024-01-03", "vc"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "payload"))
    def versionOf(p: String) = plt.partitionTable(p).latestVersion
    val v2 = versionOf("2024-01-02")
    val v3 = versionOf("2024-01-03")
    // routed delete names only partition 2024-01-01
    plt.deleteRouted(Seq(("a", "2024-01-01")).toDF(LakeTable.KeyCol, "day"))
    assert(versionOf("2024-01-02") == v2, "unnamed partition must not commit")
    assert(versionOf("2024-01-03") == v3, "unnamed partition must not commit")
    assert(plt.snapshot.select("_key").as[String].collect().sorted.toSeq == Seq("b", "c"))
    // global delete of a bloom-proven-absent key bumps NO partition version
    plt.delete(Seq("never-existed").toDF(LakeTable.KeyCol))
    assert(versionOf("2024-01-02") == v2 && versionOf("2024-01-03") == v3)
    // routed delete to a partition value that doesn't exist is a no-op
    plt.deleteRouted(Seq(("b", "2029-12-31")).toDF(LakeTable.KeyCol, "day"))
    assert(plt.snapshot.count() == 2)
    // partition-wide vacuum removes the superseded 2024-01-01 snapshot
    assert(plt.vacuum(keepVersions = 1) >= 1)
    assert(plt.snapshot.count() == 2)
  }

  test("driver-side bucketOfKey matches the Spark-side bucket expression") {
    val lt = new LakeTable(spark, tempDir("lake-").toString, numBuckets = 16)
    val keys = (0 until 50).map(i => s"key-$i")
    val sparkSide = keys.toDF("k").select(lt.bucketOf(col("k"))).as[Int].collect()
    val driverSide = keys.map(k => LakeTable.bucketOfKey(k, 16))
    assert(sparkSide.toSeq == driverSide)
  }

  test("manifest column stats skip buckets before any file open (VERDICT r12 #2)") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val nb = 8
    val dir = tempDir("lake-stats-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = nb,
      statsColumns = Seq("amount", "tag"))
    // Bucket-correlated values BY CONSTRUCTION: stats prune only where the
    // column correlates with the key-hash bucket (the operator's documented
    // caveat), so the fixture derives each row's amount/tag from its own
    // bucket id — bucket b spans exactly [b*100, b*100+49] / tag "t<b>".
    val rows = (0 until 400).map { i =>
      val k = s"k$i"
      val b = LakeTable.bucketOfKey(k, nb)
      (k, 1L, b * 100L + i % 50, s"t$b")
    }
    lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag"))

    def scanDirs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.flatMap(_.relation.location.rootPaths).map(_.toString)

    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> nb.toString))
    // amount >= 400 can only live in buckets 4..7: half the buckets must
    // be skipped, with ZERO files listed/opened for the skipped ones.
    val pruned = rel.scanPlan(
      Array(LakeTable.KeyCol, "amount"), Array(GreaterThanOrEqual("amount", 400L)))
    val opened = scanDirs(pruned)
    assert(opened.nonEmpty && opened.forall(p => (4 until nb).exists(b => p.contains(s"b=$b"))),
      s"pruned scan must open only buckets 4..7, opened: $opened")
    assert(pruned.count() === rows.count(_._3 >= 400L))
    // string equality: tag='t3' names exactly bucket 3's range
    val tagged = rel.scanPlan(Array(LakeTable.KeyCol, "tag"), Array(EqualTo("tag", "t3")))
    val taggedDirs = scanDirs(tagged)
    assert(taggedDirs.nonEmpty && taggedDirs.forall(_.contains("b=3")),
      s"tag equality must open only bucket 3, opened: $taggedDirs")
    assert(tagged.count() === rows.count(_._4 == "t3"))
    // an unsatisfiable range yields an empty, schema-stable frame
    val none = rel.scanPlan(Array("amount"), Array(GreaterThanOrEqual("amount", 10000L)))
    assert(none.count() === 0 && none.columns.toSeq == Seq("amount"))

    // A rewrite refreshes the rewritten bucket's stats: push bucket 0's
    // amounts above the cut, and the same predicate must now include it.
    val b0Keys = rows.filter(r => LakeTable.bucketOfKey(r._1, nb) == 0).map(_._1)
    lt.upsert(b0Keys.map(k => (k, 2L, 900L, "t0"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag"))
    val rel2 = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> nb.toString))
    val after = rel2.scanPlan(
      Array(LakeTable.KeyCol, "amount"), Array(GreaterThanOrEqual("amount", 400L)))
    assert(scanDirs(after).exists(_.contains("b=0")),
      "rewritten bucket's refreshed stats must re-admit it")
    assert(after.count() === rows.count(_._3 >= 400L) + b0Keys.size)
  }

  test("partitioned tables: column stats compose with partition-dir pruning") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual}
    val nb = 4
    val dir = tempDir("plake-stats-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "day", numBuckets = nb,
      statsColumns = Seq("amount"))
    // two partitions, bucket-correlated amounts within each
    val rows = for {
      day <- Seq("d1", "d2"); i <- 0 until 200
    } yield {
      val k = s"$day-k$i"
      (k, 1L, day, LakeTable.bucketOfKey(k, nb) * 100L + i % 50)
    }
    pt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "day", "amount"))

    def scanDirs(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.sparkPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.flatMap(_.relation.location.rootPaths).map(_.toString)

    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> nb.toString))
    // amount >= 200 lives only in buckets 2..3 of EACH partition
    val pruned = rel.scanPlan(
      Array(LakeTable.KeyCol, "day", "amount"),
      Array(GreaterThanOrEqual("amount", 200L)))
    val opened = scanDirs(pruned)
    assert(opened.nonEmpty && opened.forall(p => p.contains("b=2") || p.contains("b=3")),
      s"stats must skip buckets 0..1 in every partition, opened: $opened")
    assert(pruned.count() === rows.count(_._4 >= 200L))
    // partition equality + stats: only d2's buckets 2..3
    val both = rel.scanPlan(
      Array(LakeTable.KeyCol, "day", "amount"),
      Array(EqualTo("day", "d2"), GreaterThanOrEqual("amount", 200L)))
    val bothDirs = scanDirs(both)
    assert(bothDirs.nonEmpty && bothDirs.forall(p =>
        p.contains("p=d2") && (p.contains("b=2") || p.contains("b=3"))),
      s"partition route + stats must open only d2's buckets 2..3, opened: $bothDirs")
    assert(both.count() === rows.count(r => r._3 == "d2" && r._4 >= 200L))
  }

  test("string stats compare in UTF-8 byte order, not UTF-16 (emoji above U+FFFF)") {
    import org.apache.spark.sql.sources.{GreaterThan, In, StringStartsWith}
    // Spark orders strings by UTF-8 bytes: U+1F600 (emoji, surrogate pair
    // in UTF-16) sorts ABOVE U+FFFF. A Java String.compareTo prune would
    // see the emoji max as BELOW "￿" and wrongly skip the bucket
    // holding the matching row (r13 review).
    val dir = tempDir("lake-stats-utf8-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, statsColumns = Seq("tag"))
    val emoji = new String(Character.toChars(0x1F600))
    lt.upsert(Seq(("a", 1L, "alpha"), ("b", 1L, emoji))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "tag"))
    val m = lt.latestManifest().get
    // bucket max is the emoji (UTF-8 order); a filter above "￿" must
    // NOT prune the bucket
    assert(lt.statsPrunedBuckets(m, Seq(GreaterThan("tag", "￿"))).nonEmpty,
      "UTF-16 comparison would wrongly prune the emoji bucket")
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> "1"))
    assert(rel.scanPlan(Array("tag"), Array(GreaterThan("tag", "￿")))
      .as[String].collect().toSeq == Seq(emoji))
    // prefix pruning: a prefix above the byte-order max excludes the
    // bucket; a prefix at/below it does not
    assert(lt.statsPrunedBuckets(m, Seq(StringStartsWith("tag", emoji + "x"))).isEmpty)
    assert(lt.statsPrunedBuckets(m, Seq(StringStartsWith("tag", "alp"))).nonEmpty)
    // min-side prefix prune (r16): every "A*" string is < "B" in byte
    // order, and the bucket min is "alpha" >= "B" — excluded; a prefix
    // whose upper bound sits above the min keeps the bucket
    assert(lt.statsPrunedBuckets(m, Seq(StringStartsWith("tag", "A"))).isEmpty,
      "prefix upper bound below the bucket min must prune")
    assert(lt.statsPrunedBuckets(m, Seq(StringStartsWith("tag", "a"))).nonEmpty)
    // In with every value outside the range prunes; a value inside keeps
    assert(lt.statsPrunedBuckets(m, Seq(In("tag", Array("aaa", "aab")))).isEmpty)
    assert(lt.statsPrunedBuckets(m, Seq(In("tag", Array("aaa", "alpha")))).nonEmpty)
  }

  test("null-count stats prune IsNull/IsNotNull and all-null range predicates") {
    import org.apache.spark.sql.sources.{GreaterThan, IsNotNull, IsNull}
    val dir = tempDir("lake-stats-null-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, statsColumns = Seq("amount"))
    // bucket 1: amount entirely null
    lt.upsert(Seq(("a", 1L, null: java.lang.Long), ("b", 1L, null: java.lang.Long))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val allNull = lt.latestManifest().get
    // all-null: IsNotNull prunes, IsNull keeps, and a RANGE predicate
    // prunes too (bounds are absent, so only the null count can see it)
    assert(lt.statsPrunedBuckets(allNull, Seq(IsNotNull("amount"))).isEmpty)
    assert(lt.statsPrunedBuckets(allNull, Seq(GreaterThan("amount", 0L))).isEmpty)
    assert(lt.statsPrunedBuckets(allNull, Seq(IsNull("amount"))).nonEmpty)
    // rewrite with no nulls: IsNull prunes, IsNotNull keeps
    lt.upsert(Seq(("a", 2L, java.lang.Long.valueOf(5L)), ("b", 2L, java.lang.Long.valueOf(7L)))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val noNull = lt.latestManifest().get
    assert(lt.statsPrunedBuckets(noNull, Seq(IsNull("amount"))).isEmpty)
    assert(lt.statsPrunedBuckets(noNull, Seq(IsNotNull("amount"))).nonEmpty)
    // the relation honors it end-to-end
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> "1"))
    assert(rel.scanPlan(Array("amount"), Array(IsNull("amount"))).count() === 0)
    assert(rel.scanPlan(Array("amount"), Array(IsNotNull("amount"))).count() === 2)
    // r16 excludes cases over the same fixtures:
    import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Not}
    // null-safe equality: a null literal is IsNull; a non-null literal
    // can't match an all-null bucket
    assert(lt.statsPrunedBuckets(noNull, Seq(EqualNullSafe("amount", null))).isEmpty)
    assert(lt.statsPrunedBuckets(allNull, Seq(EqualNullSafe("amount", 5L))).isEmpty)
    assert(lt.statsPrunedBuckets(noNull, Seq(EqualNullSafe("amount", 5L))).nonEmpty)
    // Not(EqualTo): no row of an all-null bucket is provably != v; and a
    // constant bucket whose whole range IS v has no row != v either
    assert(lt.statsPrunedBuckets(allNull, Seq(Not(EqualTo("amount", 5L)))).isEmpty)
    assert(lt.statsPrunedBuckets(noNull, Seq(Not(EqualTo("amount", 5L)))).nonEmpty)
    val cdir = tempDir("lake-stats-const-").resolve("t").toString
    val clt = new LakeTable(spark, cdir, numBuckets = 1, statsColumns = Seq("amount"))
    clt.upsert(Seq(("a", 1L, 5L), ("b", 1L, 5L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val const = clt.latestManifest().get
    assert(clt.statsPrunedBuckets(const, Seq(Not(EqualTo("amount", 5L)))).isEmpty,
      "a constant bucket (min == max == v) has no row != v")
    assert(clt.statsPrunedBuckets(const, Seq(Not(EqualTo("amount", 6L)))).nonEmpty)
  }

  test("randomized: stats-pruned reads equal unpruned filters (conservativeness oracle)") {
    import org.apache.spark.sql.sources._
    // Pruning may only SKIP buckets a filter provably excludes — any
    // divergence from the plain filtered snapshot is silent data loss.
    // Random rows (nulls included), random pushed-filter conjunctions,
    // byte-ordered strings with an emoji (supplementary plane) in the
    // pool: the pruned relation read must equal the unpruned filter,
    // row for row, every time.
    val rnd = new scala.util.Random(20260814)
    val dir = tempDir("lake-stats-prop-").resolve("t").toString
    // filesPerBucket + zorderBy: the randomized oracle also exercises the
    // r14 per-FILE stats prune path (range-partitioned multi-file buckets)
    val lt = new LakeTable(spark, dir, numBuckets = 4, filesPerBucket = 2,
      zorderBy = Seq("amount", "score"), statsColumns = Seq("amount", "tag", "score"))
    val emoji = new String(Character.toChars(0x1F600))
    val tags = Seq("a", "ab", "alpha", "m", "z", "￿", emoji)
    // Float pool of NON-dyadic values: the sidecar stores the exact double
    // widening (0.1f -> 0.10000000149011612) while a Float literal's
    // toString is "0.1" — filters at these exact boundary values are the
    // regression case for the r13 float-prune bug (cmp must widen the
    // literal the same way the writer did).
    val scores = Seq(0.1f, -0.1f, 0.3f, 1.5f, 123.456f, 0.0f)
    val rows = (0 until 300).map { i =>
      (s"k$i", 1L,
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(200) - 100L),
        if (rnd.nextInt(10) == 0) null else tags(rnd.nextInt(tags.size)),
        if (rnd.nextInt(10) == 0) null else java.lang.Float.valueOf(scores(rnd.nextInt(scores.size))))
    }
    lt.upsert(rows.take(150).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag", "score"))
    lt.upsert(rows.drop(150).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag", "score"))
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> "4"))
    val full = lt.snapshot
    def toCol(f: Filter): org.apache.spark.sql.Column = f match {
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case EqualTo(a, v)            => col(a) === lit(v)
      case In(a, vs)                => col(a).isInCollection(vs.toSeq)
      case StringStartsWith(a, v)   => col(a).startsWith(v)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case EqualNullSafe(a, v)      => col(a) <=> lit(v)
      case Not(EqualTo(a, v))       => !(col(a) === lit(v))
      case other                    => sys.error(s"unexpected $other")
    }
    def randFilter(): Filter = {
      def amtLit: Long = rnd.nextInt(260) - 130L // beyond the data range too
      def tagLit: String = tags(rnd.nextInt(tags.size)) + (if (rnd.nextBoolean()) "" else "x")
      // mostly exact boundary values (pool members = per-bucket min/max
      // candidates), sometimes perturbed off-boundary
      def scoreLit: Float = scores(rnd.nextInt(scores.size)) +
        (if (rnd.nextInt(3) == 0) 0.01f else 0.0f)
      def anyCol: String = rnd.nextInt(3) match {
        case 0 => "amount"; case 1 => "tag"; case _ => "score"
      }
      rnd.nextInt(16) match {
        case 0 => GreaterThan("amount", amtLit)
        case 1 => GreaterThanOrEqual("amount", amtLit)
        case 2 => LessThan("amount", amtLit)
        case 3 => EqualTo("amount", amtLit)
        case 4 => In("tag", Array.fill(1 + rnd.nextInt(3))(tagLit: Any))
        case 5 => StringStartsWith("tag", tagLit.take(1 + rnd.nextInt(3)))
        case 6 => IsNull(anyCol)
        case 7 => IsNotNull(anyCol)
        case 8 => EqualTo("score", scoreLit)
        case 9 => GreaterThanOrEqual("score", scoreLit)
        case 10 => LessThanOrEqual("score", scoreLit)
        case 11 => GreaterThan("score", scoreLit)
        // r16 excludes arms: null-safe equality (incl. the null literal =
        // IsNull shape) and negated equality (all-null / constant-bucket
        // prunes)
        case 12 => EqualNullSafe("tag", if (rnd.nextInt(4) == 0) null else tagLit)
        case 13 => EqualNullSafe("amount", if (rnd.nextInt(4) == 0) null else amtLit: Any)
        case 14 =>
          if (rnd.nextBoolean()) Not(EqualTo("amount", amtLit))
          else Not(EqualTo("tag", tagLit))
        case _ => LessThanOrEqual("tag", tagLit)
      }
    }
    for (i <- 0 until 40) {
      val fs = Array.fill(1 + rnd.nextInt(2))(randFilter())
      val got = rel.scanPlan(Array(LakeTable.KeyCol, "amount", "tag", "score"), fs)
        .collect().map(_.toSeq).toSet
      val exp = fs.foldLeft(full)((d, f) => d.filter(toCol(f)))
        .select(LakeTable.KeyCol, "amount", "tag", "score")
        .collect().map(_.toSeq).toSet
      assert(got === exp, s"iteration $i diverged under ${fs.mkString(" AND ")}")
    }
    // deterministic regression: filters AT a float bucket-boundary value
    // must not prune the bucket holding it (r13 bug: the literal compared
    // via Float.toString "0.1" while the sidecar stores the exact double
    // widening 0.10000000149011612 — min == literal read as min > literal).
    // Single bucket, 0.1f as the bucket MIN and -0.1f absent, so the wrong
    // prune fires by construction pre-fix.
    val bdir = tempDir("lake-stats-fboundary-").resolve("t").toString
    val blt = new LakeTable(spark, bdir, numBuckets = 1, statsColumns = Seq("score"))
    blt.upsert(Seq(("a", 1L, 0.1f), ("b", 1L, 0.3f))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "score"))
    val brel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> bdir, "buckets" -> "1"))
    for (f <- Seq(EqualTo("score", 0.1f), LessThanOrEqual("score", 0.1f),
        GreaterThanOrEqual("score", 0.3f), EqualTo("score", 0.3f))) {
      assert(brel.scanPlan(Array(LakeTable.KeyCol, "score"), Array(f)).count() === 1,
        s"float boundary filter $f dropped its matching row")
    }
  }

  test("timestamp/date/decimal column stats: conservativeness + temporal prune effectiveness") {
    import org.apache.spark.sql.sources._
    // r15 (VERDICT r14 #4): temporal columns record integer bounds (epoch
    // micros / days), decimals record exact decimal bounds — the same
    // conservativeness contract as the numeric/string oracle.
    val rnd = new scala.util.Random(20260815)
    val dir = tempDir("lake-stats-temporal-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4,
      statsColumns = Seq("created", "day", "price"))
    def ts(millis: Long) = new java.sql.Timestamp(millis)
    def day(d: Int) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))
    val t0 = 1700000000000L // fixed epoch base
    val rows = (0 until 300).map { i =>
      (s"k$i", 1L,
        if (rnd.nextInt(10) == 0) null else ts(t0 + rnd.nextInt(1000000) * 1000L),
        if (rnd.nextInt(10) == 0) null else day(19000 + rnd.nextInt(400)),
        if (rnd.nextInt(10) == 0) null else BigDecimal(rnd.nextInt(100000), 2))
    }
    lt.upsert(rows.take(150).toDF(LakeTable.KeyCol, LakeTable.TsCol, "created", "day", "price"))
    lt.upsert(rows.drop(150).toDF(LakeTable.KeyCol, LakeTable.TsCol, "created", "day", "price"))
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> "4"))
    val full = lt.snapshot
    def toCol(f: Filter): org.apache.spark.sql.Column = f match {
      case GreaterThan(a, v)        => col(a) > lit(v)
      case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case LessThan(a, v)           => col(a) < lit(v)
      case LessThanOrEqual(a, v)    => col(a) <= lit(v)
      case EqualTo(a, v)            => col(a) === lit(v)
      case IsNull(a)                => col(a).isNull
      case IsNotNull(a)             => col(a).isNotNull
      case other                    => sys.error(s"unexpected $other")
    }
    def randFilter(): Filter = {
      // boundary-heavy literal pools, incl. java.time externals (the
      // datetime.java8API literal family) and sub-millisecond micros
      def tsLit: Any = rnd.nextInt(3) match {
        case 0 => ts(t0 + rnd.nextInt(1000000) * 1000L)
        case 1 => { val x = ts(t0 + rnd.nextInt(1000000) * 1000L); x.setNanos(123456); x }
        case _ => java.time.Instant.ofEpochMilli(t0 + rnd.nextInt(1000000) * 1000L)
      }
      def dayLit: Any =
        if (rnd.nextBoolean()) day(19000 + rnd.nextInt(400))
        else java.time.LocalDate.ofEpochDay(19000L + rnd.nextInt(400))
      def priceLit: Any = BigDecimal(rnd.nextInt(110000) - 5000, 2)
      val (c, v): (String, Any) = rnd.nextInt(3) match {
        case 0 => ("created", tsLit)
        case 1 => ("day", dayLit)
        case _ => ("price", priceLit)
      }
      rnd.nextInt(7) match {
        case 0 => GreaterThan(c, v)
        case 1 => GreaterThanOrEqual(c, v)
        case 2 => LessThan(c, v)
        case 3 => LessThanOrEqual(c, v)
        case 4 => EqualTo(c, v)
        case 5 => IsNull(c)
        case _ => IsNotNull(c)
      }
    }
    val cols = Array(LakeTable.KeyCol, "created", "day", "price")
    for (i <- 0 until 30) {
      val fs = Array.fill(1 + rnd.nextInt(2))(randFilter())
      val got = rel.scanPlan(cols, fs).collect().map(_.toSeq).toSet
      val exp = fs.foldLeft(full)((d, f) => d.filter(toCol(f)))
        .select(cols.head, cols.tail: _*).collect().map(_.toSeq).toSet
      assert(got === exp, s"iteration $i diverged under ${fs.mkString(" AND ")}")
    }
    // prune effectiveness on a timestamp-range predicate: engineered
    // per-bucket created ranges (one day per bucket)
    val edir = tempDir("lake-stats-tseff-").resolve("t").toString
    val elt = new LakeTable(spark, edir, numBuckets = 4, statsColumns = Seq("created"))
    val dayMs = 86400000L
    val erows = (0 until 200).map { i =>
      val k = s"k$i"
      (k, 1L, ts(t0 + LakeTable.bucketOfKey(k, 4) * dayMs + (i % 24) * 3600000L))
    }
    elt.upsert(erows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "created"))
    val m = elt.latestManifest().get
    val cut = ts(t0 + 2 * dayMs)
    val keep = elt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("created", cut)))
    assert(keep === Set(2, 3), s"expected buckets 2..3 to survive the timestamp range, got $keep")
    // and the same cut expressed as an Instant prunes identically
    assert(elt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("created",
      java.time.Instant.ofEpochMilli(t0 + 2 * dayMs)))) === Set(2, 3))
    val got = new graft.sources.LakeSnapshotRelation(
        spark.sqlContext, Map("path" -> edir, "buckets" -> "4"))
      .scanPlan(Array(LakeTable.KeyCol, "created"), Array(GreaterThanOrEqual("created", cut)))
    assert(got.count() === erows.count(_._3.getTime >= cut.getTime))
  }

  test("per-file column stats prune files inside surviving buckets (z-order composed)") {
    import org.apache.spark.sql.sources.{EqualTo, LessThan}
    // The r14 lane: x is UNIFORM, so key-hash buckets can never prune it —
    // but with zorderBy + filesPerBucket the files inside each bucket tile
    // the Z-curve, and the per-file sidecar stats skip most of them for a
    // narrow range predicate BEFORE any listing or footer read.
    // 16 files per bucket: a 1/16 z-chunk pins the top FOUR interleaved
    // bits (y9 x9 y8 x8 — y owns the odd lanes), so each file's x-extent
    // is ~256 of 1024 and x < 64 provably excludes ~3/4 of the files; at
    // 8 files only x9 is pinned (512-wide extents) and the prune sits at
    // the assertion margin, sampling-boundary dependent.
    val dir = tempDir("lake-fstats-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2, filesPerBucket = 16,
      statsColumns = Seq("x"), zorderBy = Seq("x", "y"))
    val rnd = new scala.util.Random(7)
    val pts = (0 until 20000).map(i =>
      (s"k$i", 1L, rnd.nextInt(1024).toLong, rnd.nextInt(1024).toLong))
    lt.upsert(pts.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y"))
    val m = lt.latestManifest().get
    val filters = Seq(LessThan("x", 64L))
    assert(lt.statsPrunedBuckets(m, filters).size === 2,
      "uniform x must not bucket-prune (that's the per-file lane's job)")
    val fileKeep = lt.statsPrunedFiles(m, Set(0, 1), filters)
    assert(fileKeep.nonEmpty, "per-file stats should prune for x < 64")
    // end-to-end through the relation: only surviving files reach the scan
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> "2"))
    val scan = rel.scanPlan(Array(LakeTable.KeyCol, "x", "y"), Array(LessThan("x", 64L)))
    val opened = scan.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.flatMap(_.relation.location.rootPaths).map(_.toString)
      .filter(_.endsWith(".parquet"))
    import scala.jdk.CollectionConverters._
    val totalFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .iterator().asScala.count(_.toString.endsWith(".parquet"))
    assert(totalFiles >= 16, s"need multiple files per bucket, got $totalFiles")
    assert(opened.nonEmpty && opened.size * 2 <= totalFiles,
      s"x < 64 should skip at least half the files (opened ${opened.size}/$totalFiles)")
    assert(scan.count() === pts.count(_._3 < 64L))
    // boundary conservativeness: equality at a likely file-boundary value
    assert(rel.scanPlan(Array("x"), Array(EqualTo("x", 63L))).count() ===
      pts.count(_._3 == 63L))
  }

  test("column stats survive vacuum and restore") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val nb = 4
    val dir = tempDir("lake-stats-vac-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = nb, statsColumns = Seq("amount"))
    def batch(ts: Long) = (0 until 200).map { i =>
      val k = s"k$i"
      (k, ts, LakeTable.bucketOfKey(k, nb) * 100L + ts)
    }.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
    lt.upsert(batch(1L)); lt.upsert(batch(2L)); lt.upsert(batch(3L))
    assert(lt.vacuum(keepVersions = 1) >= 1)
    // pruning still works against the surviving version's sidecars
    val m = lt.latestManifest().get
    val keep = lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amount", 200L)))
    assert(keep === Set(2, 3), s"expected buckets 2..3 to survive, got $keep")
    // restore republishes a manifest — its stats references stay valid
    val v = lt.latestVersion.get
    lt.upsert(batch(4L))
    lt.restoreTo(v, commitId = "rb")
    val m2 = lt.latestManifest().get
    assert(lt.statsPrunedBuckets(m2, Seq(GreaterThanOrEqual("amount", 200L))) === Set(2, 3))
    assert(lt.snapshot.count() === 200)
  }

  test("delta-aware column stats: base∪delta union prunes, unknown layers never do") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val nb = 4
    val dir = tempDir("lake-stats-mor-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = nb, tableType = LakeTable.MorType,
      statsColumns = Seq("amount"))
    val base = (0 until 200).map { i =>
      val k = s"k$i"
      (k, 1L, LakeTable.bucketOfKey(k, nb) * 100L)
    }
    lt.upsert(base.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")) // first commit = base
    val m1 = lt.latestManifest().get
    // base stats alone prune bucket 0 for amount >= 150
    assert(!lt.statsPrunedBuckets(m1, Seq(GreaterThanOrEqual("amount", 150L))).contains(0))
    // a delta commit lands a qualifying row in bucket 0 — the union range
    // now covers it, so the bucket survives even though its BASE stats
    // still exclude the range
    val k0 = base.map(_._1).find(k => LakeTable.bucketOfKey(k, nb) == 0).get
    lt.upsert(Seq((k0, 2L, 500L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val m2 = lt.latestManifest().get
    assert(m2.deltas.getOrElse(0, Nil).nonEmpty, "expected a delta commit on bucket 0")
    assert(m2.deltaStats.getOrElse(0, Nil).size === 1,
      "the delta commit must record its own stats layer")
    val keep = lt.statsPrunedBuckets(m2, Seq(GreaterThanOrEqual("amount", 150L)))
    assert(keep.contains(0), "a delta layer holding a matching row must keep the bucket")
    // r15: a range the base∪delta union EXCLUDES prunes the bucket even
    // under a live delta stack (bucket 0 spans {0, 500}; 600 is out) —
    // the high-churn-MOR case where pre-r15 stats went dark
    val keep600 = lt.statsPrunedBuckets(m2, Seq(GreaterThanOrEqual("amount", 600L)))
    assert(!keep600.contains(0),
      "base∪delta union excluding the range must prune a delta-carrying bucket")
    // buckets 1..3 (base max 300, no deltas) prune too; nothing survives
    assert(keep600.isEmpty, s"expected full prune at amount >= 600, kept $keep600")
    // a stack layer WITHOUT stats (simulated pre-r15 manifest: deltaStats
    // stripped) reverts to never-prune for that bucket
    val legacy = m2.copy(deltaStats = Map.empty)
    assert(lt.statsPrunedBuckets(legacy, Seq(GreaterThanOrEqual("amount", 600L))).contains(0),
      "a delta stack with unknown stats layers must never be pruned")
    // and the relation read finds the delta row
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> nb.toString))
    val got = rel.scanPlan(
      Array(LakeTable.KeyCol, "amount"), Array(GreaterThanOrEqual("amount", 150L)))
    assert(got.count() === base.count(_._3 >= 150L) + 1)
    assert(rel.scanPlan(
      Array(LakeTable.KeyCol, "amount"), Array(GreaterThanOrEqual("amount", 600L))).count() === 0)
    // a fold (compact) clears the delta stats stacks with the deltas
    lt.compact()
    val m3 = lt.latestManifest().get
    assert(m3.deltas.isEmpty && m3.deltaStats.isEmpty)
    assert(!lt.statsPrunedBuckets(m3, Seq(GreaterThanOrEqual("amount", 600L))).contains(0))
    assert(lt.statsPrunedBuckets(m3, Seq(GreaterThanOrEqual("amount", 450L))).contains(0),
      "post-fold base stats must cover the folded delta row (500)")
  }

  test("SQL writes keep the table's writer config: stats sidecars survive an INSERT") {
    // code-review r16 #5: a default write handle would DELETE a touched
    // bucket's stats entry (the COW commit records stats only for the
    // columns ITS handle names) — the catalog registration's OPTIONS
    // carry the writer config and the SQL write handle honors it.
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    val dir = tempDir("lake-sqlstats-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1, statsColumns = Seq("amount"))
    lt.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    spark.sql(
      s"""CREATE TABLE sqlstats_t USING `cdc-lake`
         |OPTIONS (path '$dir', buckets '1', statsColumns 'amount')""".stripMargin)
    spark.sql("INSERT INTO sqlstats_t (_key, _ts, amount) VALUES ('c', 2, 30)")
    val m = lt.latestManifest().get
    assert(m.statsFiles.contains(0),
      "the SQL insert's commit must re-record the bucket's stats sidecar")
    assert(lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amount", 100L))).isEmpty,
      "post-insert stats must still prune an excluded range")
    assert(lt.snapshot.count() === 3)
  }

  test("delete-only delta commits keep stats pruning alive (r16 sentinel)") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, IsNull}
    // A pure-DELETE delta batch has no payload columns, so no sidecar can
    // be written — pre-r16 that misaligned the stack and the bucket went
    // stats-dark until fold (VERDICT r15 #3: exactly the retention-sweep
    // workload). Deletes only REMOVE rows, so the EmptyStatsLayer
    // sentinel keeps the stack aligned and the base's own range keeps
    // pruning.
    val nb = 2
    val dir = tempDir("lake-stats-deldelta-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = nb,
      tableType = LakeTable.MorType, statsColumns = Seq("amount"))
    val base = (0 until 100).map(i => (s"k$i", 1L, (i % 50).toLong))
    lt.upsert(base.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.delete(Seq("k1", "k2", "k3").toDF(LakeTable.KeyCol))
    val m = lt.latestManifest().get
    assert(m.deltas.nonEmpty, "the delete must land as a delta commit")
    m.deltas.foreach { case (b, stack) =>
      assert(m.deltaStats.getOrElse(b, Nil).size === stack.size,
        s"bucket $b: delete delta must keep the stats stack aligned")
      assert(m.deltaStats(b).contains(LakeTable.EmptyStatsLayer),
        s"bucket $b: the delete layer must be the sentinel")
    }
    // amount spans [0, 49]; >= 100 is excluded by the base range alone —
    // the sentinel layers contribute nothing and every bucket prunes
    assert(lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amount", 100L))).isEmpty,
      "delete-only delta stacks must not go stats-dark")
    // a null-matching predicate stays conservative too: base has 0 nulls,
    // the delete layer holds no data rows, so IsNull still prunes
    assert(lt.statsPrunedBuckets(m, Seq(IsNull("amount"))).isEmpty)
    // surviving reads through the pruned relation stay exact
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> dir, "buckets" -> nb.toString))
    assert(
      rel.scanPlan(Array(LakeTable.KeyCol, "amount"),
        Array(GreaterThanOrEqual("amount", 40L))).count() ===
        lt.snapshot.filter(col("amount") >= 40L).count())
    // an UPSERT delta missing the stat column still misaligns (no silent
    // sentinel for row-carrying batches — those rows are unstatable)
    lt.upsert(Seq(("k500", 5L, "x")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "other"))
    val m2 = lt.latestManifest().get
    val b500 = LakeTable.bucketOfKey("k500", nb)
    assert(m2.deltaStats.getOrElse(b500, Nil).size < m2.deltas(b500).size,
      "a row-carrying batch without the stat column must NOT record a sentinel")
    assert(lt.statsPrunedBuckets(m2, Seq(GreaterThanOrEqual("amount", 100L)))
      .contains(b500), "misaligned stack must stay conservative")
  }

  test("all-delta stats (r15): delta-only buckets prune when the base commit had no statable column") {
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    // The widening scenario: the stat column arrives AFTER the base
    // commit, so the manifest has statsFiles EMPTY and deltaStats
    // non-empty — statsPrune used to bail on `statsFiles.isEmpty` alone
    // and never engage the delta sidecars (code-review r15 fix).
    val nb = 4
    val dir = tempDir("lake-stats-alldelta-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = nb,
      tableType = LakeTable.MorType, statsColumns = Seq("amt"))
    val keysFor = (b: Int) => (0 until 400).map(i => s"k$i")
      .filter(k => LakeTable.bucketOfKey(k, nb) == b)
    // base commit WITHOUT amt: nothing statable, no sidecar
    lt.upsert(keysFor(1).map(k => (k, 1L, "x"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "other"))
    assert(lt.latestManifest().get.statsFiles.isEmpty,
      "a batch without the stat column must record no sidecar")
    // delta commit of NEW keys into a bucket with NO base dir, WITH amt
    lt.upsert(keysFor(2).map(k => (k, 2L, "y", 50L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "other", "amt"))
    val m = lt.latestManifest().get
    assert(m.statsFiles.isEmpty, "still no base sidecars")
    assert(m.deltas.getOrElse(2, Nil).nonEmpty, "expected a delta commit on bucket 2")
    assert(m.deltaStats.getOrElse(2, Nil).size === 1)
    val keep = lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amt", 1000L)))
    assert(!keep.contains(2),
      "a delta-only bucket must prune on its delta sidecar alone")
    assert(keep.contains(1),
      "the base bucket (no stats recorded) must stay — conservative")
    // the regression proper: statsPrune must ENGAGE (it used to return
    // None whenever statsFiles was empty) and read correctly
    val pruned = lt.statsPrune(m.version, Seq(GreaterThanOrEqual("amt", 1000L)))
    assert(pruned.isDefined, "statsPrune must engage on deltaStats alone")
    assert(pruned.get.filter(col("amt") >= 1000L).count() === 0)
    val keepAll = lt.statsPrunedBuckets(m, Seq(GreaterThanOrEqual("amt", 10L)))
    assert(keepAll.contains(1) && keepAll.contains(2),
      "a range the delta sidecar covers must keep the bucket")
  }

  test("randomized: delta-carrying MOR stats pruning stays conservative (oracle)") {
    import org.apache.spark.sql.sources._
    // The r15 delta-union lane under the same oracle contract as the COW
    // randomized test: random upsert/delete delta batches (nulls
    // included) over a MOR table, random pushed conjunctions — the
    // pruned relation read must equal the unpruned filter every time.
    val rnd = new scala.util.Random(20260816)
    for (trial <- 0 until 3) {
      val dir = tempDir("lake-stats-morprop-").resolve("t").toString
      val lt = new LakeTable(spark, dir, numBuckets = 3, tableType = LakeTable.MorType,
        compactAfter = 8, statsColumns = Seq("amount", "tag"))
      val tags = Seq("a", "ab", "m", "z", "￿")
      def rows(n: Int, ts: Long) = (0 until n).map { _ =>
        (s"k${rnd.nextInt(120)}", ts,
          if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(200) - 100L),
          if (rnd.nextInt(8) == 0) null else tags(rnd.nextInt(tags.size)))
      }
      lt.upsert(rows(80, 1L).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag"))
      var ts = 2L
      for (_ <- 0 until 3 + rnd.nextInt(3)) {
        if (rnd.nextInt(4) == 0)
          lt.delete(rows(10, ts).map(_._1).distinct.toDF(LakeTable.KeyCol))
        else
          lt.upsert(rows(5 + rnd.nextInt(20), ts)
            .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag"))
        ts += 1L
      }
      val m = lt.latestManifest().get
      assert(m.deltas.nonEmpty, s"trial $trial should carry live delta stacks")
      val rel = new graft.sources.LakeSnapshotRelation(
        spark.sqlContext, Map("path" -> dir, "buckets" -> "3"))
      val full = lt.snapshot
      def toCol(f: Filter): org.apache.spark.sql.Column = f match {
        case GreaterThan(a, v)        => col(a) > lit(v)
        case GreaterThanOrEqual(a, v) => col(a) >= lit(v)
        case LessThan(a, v)           => col(a) < lit(v)
        case EqualTo(a, v)            => col(a) === lit(v)
        case IsNull(a)                => col(a).isNull
        case IsNotNull(a)             => col(a).isNotNull
        case EqualNullSafe(a, v)      => col(a) <=> lit(v)
        case Not(EqualTo(a, v))       => !(col(a) === lit(v))
        case StringStartsWith(a, v)   => col(a).startsWith(v)
        case other                    => sys.error(s"unexpected $other")
      }
      def randFilter(): Filter = {
        def amt: Long = rnd.nextInt(260) - 130L
        def tag: String = tags(rnd.nextInt(tags.size)) + (if (rnd.nextBoolean()) "" else "x")
        rnd.nextInt(11) match {
          case 0 => GreaterThan("amount", amt)
          case 1 => GreaterThanOrEqual("amount", amt)
          case 2 => LessThan("amount", amt)
          case 3 => EqualTo("amount", amt)
          case 4 => EqualTo("tag", tag)
          case 5 => IsNull(if (rnd.nextBoolean()) "amount" else "tag")
          case 6 => IsNotNull(if (rnd.nextBoolean()) "amount" else "tag")
          // r16 arms over the delta-union lane (delete sentinels in the
          // stacks by construction of the batch loop above)
          case 7 => EqualNullSafe("tag", if (rnd.nextInt(4) == 0) null else tag)
          case 8 =>
            if (rnd.nextBoolean()) Not(EqualTo("amount", amt))
            else Not(EqualTo("tag", tag))
          case 9 => StringStartsWith("tag", tag.take(1 + rnd.nextInt(2)))
          case _ => LessThan("tag", tag)
        }
      }
      for (i <- 0 until 15) {
        val fs = Array.fill(1 + rnd.nextInt(2))(randFilter())
        val got = rel.scanPlan(Array(LakeTable.KeyCol, "amount", "tag"), fs)
          .collect().map(_.toSeq).toSet
        val exp = fs.foldLeft(full)((d, f) => d.filter(toCol(f)))
          .select(LakeTable.KeyCol, "amount", "tag")
          .collect().map(_.toSeq).toSet
        assert(got === exp, s"trial $trial iteration $i diverged under ${fs.mkString(" AND ")}")
      }
    }
  }
}
