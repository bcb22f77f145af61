package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.LakeTable

/** SQL MERGE INTO over catalog-registered cdc-lake tables (r16): the
  * GraftExtensions post-hoc rule routes a v1 lake target through the
  * native merge/upsert/delete, so SQL merges equal the DataFrame path.
  * The shared test session carries the extensions (SparkSpec).
  */
class LakeMergeIntoSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshTable(rows: Seq[(String, Long, Long)]): String = {
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    spark.sql(
      s"""CREATE TABLE $name USING `cdc-lake`
         |OPTIONS (path '$dir', buckets '2')""".stripMargin)
    name
  }
  private def state(t: String): Map[String, (Long, Long)] = {
    spark.catalog.refreshTable(t)
    spark.sql(s"SELECT _key, _ts, amount FROM $t")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
  }

  test("MERGE with UPDATE SET * + INSERT * runs the native LWW upsert (+ DELETE split)") {
    val t = freshTable(Seq(("a", 1L, 10L), ("b", 1L, 20L), ("c", 1L, 30L)))
    Seq(
      ("a", 5L, 11L, "u"), // newer ts: wins
      ("b", 0L, 99L, "u"), // stale ts: loses (the lake's LWW contract)
      ("c", 5L, 0L, "d"),  // delete branch
      ("d", 5L, 40L, "u")  // new key: inserts
    ).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "op")
      .createOrReplaceTempView("src1")
    spark.sql(
      s"""MERGE INTO $t t USING src1 s ON t._key = s._key
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(t) === Map(
      "a" -> (5L, 11L), "b" -> (1L, 20L), "d" -> (5L, 40L)))
    // SQL-faithful replay: 'c' is now UNMATCHED, so its op='d' source row
    // takes the NOT MATCHED branch and is INSERTED (the delete condition
    // guards only the MATCHED branch — code-review r16 #3)
    spark.sql(
      s"""MERGE INTO $t t USING src1 s ON t._key = s._key
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(t) === Map(
      "a" -> (5L, 11L), "b" -> (1L, 20L), "c" -> (5L, 0L), "d" -> (5L, 40L)))
  }

  test("unconditional MATCHED DELETE + INSERT: matched delete, unmatched insert (r16 review #1)") {
    val t = freshTable(Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    Seq(("a", 5L, 0L), ("n", 5L, 70L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
      .createOrReplaceTempView("srcud")
    spark.sql(
      s"""MERGE INTO $t t USING srcud s ON t._key = s._key
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // 'a' matched -> deleted; 'n' unmatched -> inserted (the same-commit
    // delete set must NOT swallow it); 'b' untouched
    assert(state(t) === Map("b" -> (1L, 20L), "n" -> (5L, 70L)))
  }

  test("a null ON-expression value fails loudly instead of merging a null-key group") {
    val t = freshTable(Seq(("a", 1L, 10L)))
    Seq((Option("a"), 5L, 11L), (Option.empty[String], 5L, 99L))
      .toDF("id", "ts", "amt").createOrReplaceTempView("srcnull")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $t t USING srcnull s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _key = s.id, _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED THEN INSERT (_key, _ts, amount) VALUES (s.id, s.ts, s.amt)"""
        .stripMargin))
    def msgs(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("non-null"), msgs(e))
    assert(state(t) === Map("a" -> (1L, 10L)))
  }


  test("explicit equivalent assignments work; ON may equate a source expression") {
    val t = freshTable(Seq(("k1", 1L, 10L)))
    Seq(("k1", 5L, 77L), ("k9", 5L, 88L)).toDF("id", "ts", "amt")
      .createOrReplaceTempView("src2")
    // _key derives from the ON expression (no _key column in the source)
    spark.sql(
      s"""MERGE INTO $t t USING src2 s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _key = s.id, _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED THEN INSERT (_key, _ts, amount) VALUES (s.id, s.ts, s.amt)""".stripMargin)
    assert(state(t) === Map("k1" -> (5L, 77L), "k9" -> (5L, 88L)))
  }

  test("UPDATE-only touches matched keys; INSERT-only touches unmatched; DELETE-only deletes") {
    val t = freshTable(Seq(("a", 1L, 10L), ("b", 1L, 20L)))
    Seq(("a", 5L, 11L), ("x", 5L, 99L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
      .createOrReplaceTempView("src3")
    spark.sql(
      s"""MERGE INTO $t t USING src3 s ON t._key = s._key
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(state(t) === Map("a" -> (5L, 11L), "b" -> (1L, 20L)),
      "update-only must not insert unmatched keys")
    spark.sql(
      s"""MERGE INTO $t t USING src3 s ON t._key = s._key
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(state(t) === Map("a" -> (5L, 11L), "b" -> (1L, 20L), "x" -> (5L, 99L)),
      "insert-only must not touch matched keys")
    Seq(("b", 9L, 0L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
      .createOrReplaceTempView("src4")
    spark.sql(
      s"""MERGE INTO $t t USING src4 s ON t._key = s._key
         |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(state(t).keySet === Set("a", "x"))
  }

  test("unsupported shapes fail loudly, never silently reinterpret") {
    val t = freshTable(Seq(("a", 1L, 10L)))
    Seq(("a", 5L, 11L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
      .createOrReplaceTempView("src5")
    def mustFail(sql: String, needle: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def msgs(x: Throwable): String =
        Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
          .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs(e).contains(needle), s"expected '$needle' in: ${msgs(e)}")
    }
    mustFail(
      s"""MERGE INTO $t t USING src5 s ON t.amount = s.amount
         |WHEN MATCHED THEN UPDATE SET *""".stripMargin,
      "_key")
    // rekeying: an explicit _key assignment differing from ON
    mustFail(
      s"""MERGE INTO $t t USING src5 s ON t._key = s._key
         |WHEN MATCHED THEN UPDATE SET _key = concat(s._key, 'x'), _ts = s._ts, amount = s.amount"""
        .stripMargin,
      "_key")
    // INSERT must assign the precombine column
    mustFail(
      s"""MERGE INTO $t t USING src5 s ON t._key = s._key
         |WHEN NOT MATCHED THEN INSERT (_key, amount) VALUES (s._key, s.amount)""".stripMargin,
      "_ts")
    // untouched by all the failures
    assert(state(t) === Map("a" -> (1L, 10L)))
  }

  test("WHEN NOT MATCHED BY SOURCE routes sync-deletes and target-side updates (r17)") {
    val t = freshTable(Seq(("a", 1L, 10L), ("b", 1L, 20L), ("c", 1L, 30L), ("d", 1L, 40L)))
    Seq(("a", 5L, 11L)).toDF("id", "ts", "amt").createOrReplaceTempView("srcbys")
    // 'a' matched -> updated from source; 'c','d' (amount >= 30) not
    // named by the source -> sync-deleted; 'b' not named, amount < 30 ->
    // target-side update (amount doubles, _ts unassigned keeps stored)
    spark.sql(
      s"""MERGE INTO $t t USING srcbys s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED BY SOURCE AND t.amount >= 30 THEN DELETE
         |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET amount = t.amount * 2"""
        .stripMargin)
    assert(state(t) === Map("a" -> (5L, 11L), "b" -> (1L, 40L)))
    // by-source-only merge (pure sync-delete): no probe path needed
    Seq(("b", 9L, 0L)).toDF("id", "ts", "amt").createOrReplaceTempView("srcbys2")
    spark.sql(
      s"""MERGE INTO $t t USING srcbys2 s ON t._key = s.id
         |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(state(t).keySet === Set("b"))
  }

  test("conditional branches route first-match; unrouted matched rows stay untouched (r17)") {
    val t = freshTable(Seq(("a", 1L, 10L), ("b", 1L, 20L), ("c", 1L, 30L), ("d", 1L, 40L)))
    Seq(
      ("a", 5L, 100L), // amount>=100 -> first UPDATE branch (amount doubles)
      ("b", 5L, 50L),  // 10<=amount<100 -> second UPDATE branch (amount as-is)
      ("c", 5L, 5L),   // matches NO action -> untouched
      ("n1", 5L, 200L), // unmatched, amt>=100 -> INSERT branch 1
      ("n2", 5L, 7L)    // unmatched, amt<100 -> no insert action matches -> dropped
    ).toDF("id", "ts", "amt").createOrReplaceTempView("srccond")
    spark.sql(
      s"""MERGE INTO $t t USING srccond s ON t._key = s.id
         |WHEN MATCHED AND s.amt >= 100 THEN UPDATE SET _ts = s.ts, amount = s.amt * 2
         |WHEN MATCHED AND s.amt >= 10 THEN UPDATE SET _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED AND s.amt >= 100 THEN INSERT (_key, _ts, amount) VALUES (s.id, s.ts, s.amt)"""
        .stripMargin)
    assert(state(t) === Map(
      "a" -> (5L, 200L), "b" -> (5L, 50L), "c" -> (1L, 30L), "d" -> (1L, 40L),
      "n1" -> (5L, 200L)))
  }

  test("partial UPDATE SET is read-modify-write — unassigned columns keep stored values (ADVICE r16)") {
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-rmw-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L, "keep-a"), ("b", 1L, 20L, "keep-b"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note"))
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    Seq(("a", 9L, 11L)).toDF("id", "ts", "amt").createOrReplaceTempView("srcrmw")
    // assigns amount + _ts only: note must SURVIVE, not null out
    spark.sql(
      s"""MERGE INTO $name t USING srcrmw s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET amount = s.amt, _ts = s.ts""".stripMargin)
    spark.catalog.refreshTable(name)
    val got = spark.sql(s"SELECT _key, _ts, amount, note FROM $name")
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map("a" -> ((9L, 11L, "keep-a")), "b" -> ((1L, 20L, "keep-b"))))
    // and _ts may be OMITTED too: stored _ts carries, update still wins
    Seq(("b", 21L)).toDF("id", "amt").createOrReplaceTempView("srcrmw2")
    spark.sql(
      s"""MERGE INTO $name t USING srcrmw2 s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET amount = s.amt""".stripMargin)
    spark.catalog.refreshTable(name)
    val got2 = spark.sql(s"SELECT _key, _ts, amount, note FROM $name")
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got2 === Map("a" -> ((9L, 11L, "keep-a")), "b" -> ((1L, 21L, "keep-b"))))
  }

  test("differing UPDATE vs INSERT assignments and two-sided UPDATE values (r17)") {
    val t = freshTable(Seq(("a", 1L, 10L)))
    Seq(("a", 5L, 3L), ("z", 5L, 7L)).toDF("id", "ts", "delta")
      .createOrReplaceTempView("srcdiff")
    // UPDATE accumulates into the TARGET's amount; INSERT starts fresh
    spark.sql(
      s"""MERGE INTO $t t USING srcdiff s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = t.amount + s.delta
         |WHEN NOT MATCHED THEN INSERT (_key, _ts, amount) VALUES (s.id, s.ts, s.delta)"""
        .stripMargin)
    assert(state(t) === Map("a" -> (5L, 13L), "z" -> (5L, 7L)))
  }

  test("probe-split MERGE works on a PARTITIONED table; deletes route by the target partition (r17)") {
    import graft.lake.PartitionedLakeTable
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-part-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
    pt.upsert(Seq(
      ("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"), ("c", 1L, 30L, "eu"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    Seq(("a", 5L, 11L, "u"), ("b", 5L, 0L, "d"), ("x", 5L, 99L, "i"))
      .toDF("id", "ts", "amt", "op").createOrReplaceTempView("srcpart")
    // partial UPDATE (region unassigned -> RMW keeps it), DELETE routes by
    // the TARGET row's partition, INSERT names its partition explicitly
    spark.sql(
      s"""MERGE INTO $name t USING srcpart s ON t._key = s.id
         |WHEN MATCHED AND s.op = 'd' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED THEN INSERT (_key, _ts, amount, region) VALUES (s.id, s.ts, s.amt, 'ap')"""
        .stripMargin)
    spark.catalog.refreshTable(name)
    val got = spark.sql(s"SELECT _key, _ts, amount, region FROM $name")
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map(
      "a" -> ((5L, 11L, "eu")), "c" -> ((1L, 30L, "eu")), "x" -> ((5L, 99L, "ap"))))
    // partition-move UPDATE raises instead of silently duplicating
    Seq(("a", 9L, 12L, "us")).toDF("id", "ts", "amt", "region")
      .createOrReplaceTempView("srcmove")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t USING srcmove s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt, region = s.region"""
        .stripMargin))
    def msgs(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("move a row across partitions"), msgs(e))
  }

  test("in-band source partition routing probes ONLY the named partitions (r18)") {
    import graft.lake.PartitionedLakeTable
    def seeded(tag: String): (String, String) = {
      n += 1
      val name = s"mrg_t$n"
      val dir = tempDir(s"merge-$tag-").resolve("t").toString
      val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
      pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"), ("c", 1L, 30L, "eu"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
      spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
      (name, dir)
    }
    def stateOf(name: String): Map[String, (Long, Long, String)] = {
      spark.catalog.refreshTable(name)
      spark.sql(s"SELECT _key, _ts, amount, region FROM $name")
        .as[(String, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    }
    val (routedT, routedDir) = seeded("route")
    // source carries the partition column and names ONLY 'eu'
    Seq(("a", 5L, 11L, "eu"), ("y", 5L, 44L, "eu"))
      .toDF("id", "ts", "amt", "region").createOrReplaceTempView("srcroute")
    // FS-level evidence: corrupt every 'us' data file — a probe or scan
    // of the un-named partition would throw, so the merge succeeds only
    // if routing truly never touches it (manifest reads stay allowed).
    val saved = scala.collection.mutable.Map.empty[java.nio.file.Path, Array[Byte]]
    java.nio.file.Files.walk(java.nio.file.Paths.get(routedDir, "p=us")).forEach { p =>
      if (p.toString.endsWith(".parquet")) {
        saved(p) = java.nio.file.Files.readAllBytes(p)
        java.nio.file.Files.write(p, "not parquet".getBytes)
      }
    }
    assert(saved.nonEmpty, "expected data files under the un-named partition")
    try {
      spark.sql(
        s"""MERGE INTO $routedT t USING srcroute s ON t._key = s.id
           |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
           |WHEN NOT MATCHED THEN
           |  INSERT (_key, _ts, amount, region) VALUES (s.id, s.ts, s.amt, s.region)"""
          .stripMargin)
    } finally saved.foreach { case (p, bytes) => java.nio.file.Files.write(p, bytes) }
    // identical state to the GLOBAL-probe path: twin table, source WITHOUT
    // the partition column (INSERT names the partition explicitly)
    val (globalT, _) = seeded("global")
    Seq(("a", 5L, 11L), ("y", 5L, 44L))
      .toDF("id", "ts", "amt").createOrReplaceTempView("srcglobal")
    spark.sql(
      s"""MERGE INTO $globalT t USING srcglobal s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED THEN
         |  INSERT (_key, _ts, amount, region) VALUES (s.id, s.ts, s.amt, 'eu')"""
        .stripMargin)
    val expected = Map(
      "a" -> ((5L, 11L, "eu")), "b" -> ((1L, 20L, "us")),
      "c" -> ((1L, 30L, "eu")), "y" -> ((5L, 44L, "eu")))
    assert(stateOf(routedT) === expected)
    assert(stateOf(globalT) === expected)
  }

  test("in-band routing falls back to the global probe on a null partition value") {
    import graft.lake.PartitionedLakeTable
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-nullroute-").resolve("t").toString
    new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
      .upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"))
        .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    // b is stored in 'us' but the source names no partition for it: the
    // probe must still find it, so the row updates in place
    Seq(("b", 5L, 21L, Option.empty[String]))
      .toDF("id", "ts", "amt", "region").createOrReplaceTempView("srcnullroute")
    spark.sql(
      s"""MERGE INTO $name t USING srcnullroute s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
         |WHEN NOT MATCHED THEN
         |  INSERT (_key, _ts, amount, region) VALUES (s.id, s.ts, s.amt, s.region)"""
        .stripMargin)
    spark.catalog.refreshTable(name)
    assert(spark.sql(s"SELECT _key, _ts, amount, region FROM $name")
      .as[(String, Long, Long, String)].collect().sortBy(_._1).toSeq ===
      Seq(("a", 1L, 10L, "eu"), ("b", 5L, 21L, "us")))
  }

  test("INSERT-only MERGE on a PARTITIONED table skips matched rows of other partitions") {
    import graft.lake.PartitionedLakeTable
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-ins-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
    pt.upsert(Seq(("k2", 1L, 20L, "b"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    // k2 matches in partition b, so the inserts route to partition a alone
    Seq(("k1", 5L, 11L, "a"), ("k2", 5L, 22L, "b"))
      .toDF("id", "ts", "amt", "region").createOrReplaceTempView("srcins")
    spark.sql(
      s"""MERGE INTO $name t USING srcins s ON t._key = s.id
         |WHEN NOT MATCHED THEN
         |  INSERT (_key, _ts, amount, region) VALUES (s.id, s.ts, s.amt, s.region)"""
        .stripMargin)
    spark.catalog.refreshTable(name)
    val got = spark.sql(s"SELECT _key, _ts, amount, region FROM $name")
      .as[(String, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got === Map("k1" -> ((5L, 11L, "a")), "k2" -> ((1L, 20L, "b"))))
  }

  test("composite-partition MERGE: routing needs ALL columns in-band; move guard per column (r20)") {
    import graft.lake.PartitionedLakeTable
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-comp-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region,day", numBuckets = 2)
    pt.upsert(Seq(
      ("a", 1L, 10L, "eu", "d1"), ("b", 1L, 20L, "us", "d1"), ("c", 1L, 30L, "eu", "d2"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region", "day"))
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    // source carries BOTH partition columns naming only eu/d1 — the
    // un-named partitions must never be probed (FS-corruption evidence,
    // the r18 pattern, now on the composite identity)
    Seq(("a", 5L, 11L, "eu", "d1"), ("y", 5L, 44L, "eu", "d1"))
      .toDF("id", "ts", "amt", "region", "day").createOrReplaceTempView("srccomp")
    val saved = scala.collection.mutable.Map.empty[java.nio.file.Path, Array[Byte]]
    Seq("p=us/p=d1", "p=eu/p=d2").foreach { sub =>
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir, sub)).forEach { p =>
        if (p.toString.endsWith(".parquet")) {
          saved(p) = java.nio.file.Files.readAllBytes(p)
          java.nio.file.Files.write(p, "not parquet".getBytes)
        }
      }
    }
    assert(saved.nonEmpty, "expected data files under the un-named partitions")
    try {
      spark.sql(
        s"""MERGE INTO $name t USING srccomp s ON t._key = s.id
           |WHEN MATCHED THEN UPDATE SET _ts = s.ts, amount = s.amt
           |WHEN NOT MATCHED THEN
           |  INSERT (_key, _ts, amount, region, day)
           |  VALUES (s.id, s.ts, s.amt, s.region, s.day)""".stripMargin)
    } finally saved.foreach { case (p, bytes) => java.nio.file.Files.write(p, bytes) }
    spark.catalog.refreshTable(name)
    assert(spark.sql(s"SELECT _key, _ts, amount, region, day FROM $name")
      .as[(String, Long, Long, String, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      === Map(
        "a" -> ((5L, 11L, "eu", "d1")), "b" -> ((1L, 20L, "us", "d1")),
        "c" -> ((1L, 30L, "eu", "d2")), "y" -> ((5L, 44L, "eu", "d1"))))
    // assigning EITHER partition column to a moved value raises the guard
    def msgs(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    Seq(("a", 9L, "d9")).toDF("id", "ts", "nday").createOrReplaceTempView("srcmove")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $name t USING srcmove s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, day = s.nday""".stripMargin))
    assert(msgs(e).contains("move a row across partitions"), msgs(e))
    spark.sql(s"DROP TABLE $name")
  }

  test("nondeterministic WHEN conditions are rejected loudly (ADVICE r17)") {
    val t = freshTable(Seq(("a", 1L, 10L)))
    Seq(("a", 5L, 11L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
      .createOrReplaceTempView("srcnd")
    val e = intercept[Exception](spark.sql(
      s"""MERGE INTO $t t USING srcnd s ON t._key = s._key
         |WHEN MATCHED AND rand() > 0.5 THEN UPDATE SET *""".stripMargin))
    def msgs(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs(e).contains("nondeterministic"), msgs(e))
    assert(state(t) === Map("a" -> (1L, 10L)))
  }

  test("randomized: SQL MERGE state == an independent first-match interpreter (r17)") {
    // Property pin for the full routing surface: conditional matched
    // UPDATE/DELETE branches + conditional INSERT + by-source
    // UPDATE/DELETE, with a partial (RMW) update branch — against a
    // plain Scala interpreter of standard SQL MERGE semantics. Catches
    // interaction bugs the hand-written cases can't (ordering between
    // branches, untouched-row classes, delete-vs-insert populations).
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 0 until 4) {
      n += 1
      val name = s"mrg_prop$n"
      val dir = tempDir("merge-prop-").resolve("t").toString
      val lt = new LakeTable(spark, dir, numBuckets = 2)
      // target: keys k0..k9 (subset), amounts random, note payload
      val tgtRows = (0 until 10).filter(_ => rnd.nextBoolean())
        .map(i => (s"k$i", 1L, rnd.nextInt(100).toLong, s"note$i"))
      val seeded = if (tgtRows.nonEmpty) tgtRows else Seq(("k0", 1L, 5L, "note0"))
      lt.upsert(seeded.toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note"))
      spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
      // source: keys k5..k14 (subset), amt random
      val srcRows = (5 until 15).filter(_ => rnd.nextBoolean())
        .map(i => (s"k$i", rnd.nextInt(100).toLong))
      val src = if (srcRows.nonEmpty) srcRows else Seq(("k7", 50L))
      src.toDF("id", "amt").createOrReplaceTempView(s"srcprop$n")
      val (c1, c2, c3, c4) = (rnd.nextInt(100), rnd.nextInt(100), rnd.nextInt(100), rnd.nextInt(100))
      spark.sql(
        s"""MERGE INTO $name t USING srcprop$n s ON t._key = s.id
           |WHEN MATCHED AND s.amt >= $c1 THEN DELETE
           |WHEN MATCHED AND s.amt >= $c2 THEN UPDATE SET _ts = 2, amount = t.amount + s.amt
           |WHEN NOT MATCHED AND s.amt >= $c3 THEN
           |  INSERT (_key, _ts, amount, note) VALUES (s.id, 2, s.amt, 'new')
           |WHEN NOT MATCHED BY SOURCE AND t.amount >= $c4 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET amount = t.amount + 1000"""
          .stripMargin)
      // independent interpreter over the same inputs
      val tgtMap = seeded.map(r => r._1 -> r).toMap
      val srcMap = src.toMap
      val expected = scala.collection.mutable.Map.empty[String, (Long, Long, String)]
      tgtMap.foreach { case (k, (_, ts, amount, note)) =>
        srcMap.get(k) match {
          case Some(amt) => // matched: first-match over the two branches
            if (amt >= c1) () // deleted
            else if (amt >= c2) expected(k) = (2L, amount + amt, note) // RMW keeps note
            else expected(k) = (ts, amount, note) // no action: untouched
          case None => // not matched by source
            if (amount >= c4) () // sync-deleted
            else expected(k) = (ts, amount + 1000L, note)
        }
      }
      srcMap.foreach { case (k, amt) =>
        if (!tgtMap.contains(k) && amt >= c3) expected(k) = (2L, amt, "new")
      }
      spark.catalog.refreshTable(name)
      val got = spark.sql(s"SELECT _key, _ts, amount, note FROM $name")
        .as[(String, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === expected.toMap,
        s"trial $trial: thresholds ($c1,$c2,$c3,$c4) target=$seeded source=$src")
      spark.sql(s"DROP TABLE IF EXISTS $name")
    }
  }

  test("SQL MERGE widens int->long like the DataFrame path (r17)") {
    n += 1
    val name = s"mrg_t$n"
    val dir = tempDir("merge-widen-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10), ("b", 1L, 20))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "qty")) // qty: int
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    Seq(("a", 5L, 7000000000L), ("c", 5L, 8000000000L)) // beyond int range
      .toDF("id", "ts", "q").createOrReplaceTempView("srcwide")
    spark.sql(
      s"""MERGE INTO $name t USING srcwide s ON t._key = s.id
         |WHEN MATCHED THEN UPDATE SET _ts = s.ts, qty = s.q
         |WHEN NOT MATCHED THEN INSERT (_key, _ts, qty) VALUES (s.id, s.ts, s.q)"""
        .stripMargin)
    // DataFrame-path equivalent on a second table
    val dir2 = tempDir("merge-widen-df-").resolve("t").toString
    val lt2 = new LakeTable(spark, dir2, numBuckets = 2)
    lt2.upsert(Seq(("a", 1L, 10), ("b", 1L, 20))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "qty"))
    lt2.upsert(Seq(("a", 5L, 7000000000L), ("c", 5L, 8000000000L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "qty"))
    spark.catalog.refreshTable(name)
    val sqlState = spark.sql(s"SELECT _key, _ts, qty FROM $name")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val dfState = lt2.snapshot.select("_key", "_ts", "qty")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(sqlState === dfState)
    assert(sqlState === Seq(
      ("a", 5L, 7000000000L), ("b", 1L, 20L), ("c", 5L, 8000000000L)))
  }
}
