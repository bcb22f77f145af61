package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.lake.{LakeTable, PartitionedLakeTable}

/** SQL time travel (`VERSION AS OF` / `TIMESTAMP AS OF`) and the `CALL`
  * maintenance procedures (r18) — both rewritten by [[GraftSqlParser]]
  * before analysis. Each procedure case proves STATE EQUALITY with the
  * Scala API it routes to (the VERDICT r17 #4 done-bar).
  */
class LakeSqlExtrasSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def fresh(prefix: String): (String, String, LakeTable) = {
    n += 1
    val name = s"sqlx_t$n"
    val dir = tempDir(s"$prefix-").resolve("t").toString
    (name, dir, new LakeTable(spark, dir, numBuckets = 2))
  }
  private def register(name: String, dir: String): Unit =
    spark.sql(s"CREATE TABLE $name USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")

  private def msgs(x: Throwable): String =
    Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("SELECT ... VERSION AS OF reads the pinned historical state (q79 shape)") {
    val (name, dir, lt) = fresh("tt-v")
    lt.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.delete(Seq("a").toDF(LakeTable.KeyCol))
    lt.upsert(Seq(("c", 2L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    def keysAt(v: Int): Set[String] =
      spark.sql(s"SELECT _key FROM $name VERSION AS OF $v").as[String].collect().toSet
    assert(keysAt(1) === Set("a", "b"))
    assert(keysAt(2) === Set("b"))
    assert(keysAt(3) === Set("b", "c"))
    // equals the read-option route at every version
    (1 to 3).foreach { v =>
      val opt = spark.read.format("cdc-lake")
        .option("path", dir).option("buckets", "2").option("versionAsOf", v.toString)
        .load().select(LakeTable.KeyCol).as[String].collect().toSet
      assert(opt === keysAt(v), s"version $v")
    }
    // latest read unaffected
    assert(spark.sql(s"SELECT _key FROM $name").as[String].collect().toSet === Set("b", "c"))
    // unknown version fails loudly
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $name VERSION AS OF 99").collect())
    assert(msgs(e).contains("99"), msgs(e))
    spark.sql(s"DROP TABLE $name")
  }

  test("TIMESTAMP AS OF resolves string and typed literals to the pinned version") {
    val (name, dir, lt) = fresh("tt-ts")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(20)
    lt.upsert(Seq(("b", 2L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    // epoch-millis string literal → version 1 state
    val got = spark.sql(s"SELECT _key FROM $name TIMESTAMP AS OF '$afterV1'")
      .as[String].collect().toSet
    assert(got === Set("a"))
    // typed timestamp literal (micros) → same pinned resolution
    val iso = java.time.Instant.ofEpochMilli(afterV1)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    val got2 = spark.sql(s"SELECT _key FROM $name TIMESTAMP AS OF timestamp'$iso'")
      .as[String].collect().toSet
    assert(got2 === Set("a"))
    spark.sql(s"DROP TABLE $name")
  }

  test("partitioned VERSION AS OF takes a JSON vector") {
    n += 1
    val name = s"sqlx_t$n"
    val dir = tempDir("tt-part-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    pt.upsert(Seq(("a2", 2L, 11L, "eu"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    register(name, dir)
    val got = spark.sql(
      s"""SELECT _key FROM $name VERSION AS OF '{"eu": 1, "us": 1}'""")
      .as[String].collect().toSet
    assert(got === Set("a", "b"))
    assert(spark.sql(s"SELECT _key FROM $name").as[String].collect().toSet ===
      Set("a", "a2", "b"))
    spark.sql(s"DROP TABLE $name")
  }

  test("EXPLAIN fires the parse-time rewrites too (ADVICE r18)") {
    // ExplainCommand holds the explained plan as a FIELD, not a child —
    // the rewrite must recurse into it or EXPLAIN of a time-travel read
    // dies on Spark's own UNSUPPORTED_FEATURE before our seam runs.
    val (name, dir, lt) = fresh("tt-explain")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    val planText = spark.sql(s"EXPLAIN SELECT _key FROM $name VERSION AS OF 1")
      .as[String].collect().mkString("\n")
    assert(planText.toLowerCase.contains("scan"), planText)
    spark.sql(s"DROP TABLE $name")
  }

  test("a temp view shadowing a lake table wins VERSION AS OF resolution too (ADVICE r18)") {
    val (name, dir, lt) = fresh("tt-shadow")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    try {
      Seq(("view-row", 9L, 99L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")
        .createOrReplaceTempView(name)
      // plain resolution reads the view — versioned resolution must not
      // silently bypass it to the catalog table; Spark's own loud
      // time-travel-over-view error is the consistent outcome
      assert(spark.sql(s"SELECT _key FROM $name").as[String].collect().toSeq
        === Seq("view-row"))
      val e = intercept[Exception](
        spark.sql(s"SELECT _key FROM $name VERSION AS OF 1").collect())
      assert(msgs(e).toLowerCase.contains("time travel") ||
        msgs(e).contains("TIME_TRAVEL"), msgs(e))
    } finally {
      spark.catalog.dropTempView(name)
      spark.sql(s"DROP TABLE $name")
    }
  }

  test("non-lake tables keep Spark's own time-travel error") {
    spark.sql("CREATE TABLE plain_pq (id INT) USING parquet")
    try {
      val e = intercept[Exception](
        spark.sql("SELECT * FROM plain_pq VERSION AS OF 1").collect())
      assert(msgs(e).contains("TIME_TRAVEL"), msgs(e))
    } finally spark.sql("DROP TABLE plain_pq")
  }

  test("CALL run_compaction == Scala compact(): MOR delta stacks fold identically") {
    def seeded(tag: String): (String, String, LakeTable) = {
      val (name, dir, _) = fresh(tag)
      val mor = new LakeTable(spark, dir, numBuckets = 2, tableType = "mor", compactAfter = 100)
      mor.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
      mor.upsert(Seq(("a", 2L, 11L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
      mor.upsert(Seq(("c", 3L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
      (name, dir, mor)
    }
    val (sqlName, sqlDir, sqlMor) = seeded("call-compact-sql")
    // register with the MOR writer config so procedures get a matched handle
    spark.sql(
      s"""CREATE TABLE $sqlName USING `cdc-lake`
         |OPTIONS (path '$sqlDir', buckets '2', tableType 'mor', compactAfter '100')"""
        .stripMargin)
    assert(sqlMor.deltaDepths.nonEmpty, "precondition: live delta stacks")
    spark.sql(s"CALL run_compaction(table => '$sqlName')")
    val (_, _, scalaMor) = seeded("call-compact-scala")
    scalaMor.compact()
    assert(sqlMor.deltaDepths.isEmpty, "CALL must fold the stacks")
    assert(scalaMor.deltaDepths.isEmpty)
    val s1 = sqlMor.snapshot.select("_key", "_ts", "amount")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val s2 = scalaMor.snapshot.select("_key", "_ts", "amount")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(s1 === s2)
    assert(s1 === Seq(("a", 2L, 11L), ("b", 1L, 20L), ("c", 3L, 30L)))
    spark.sql(s"DROP TABLE $sqlName")
  }

  test("CALL run_vacuum == Scala vacuum(); CALL rollback_to_instant == restoreTo") {
    val (name, dir, lt) = fresh("call-vac")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.upsert(Seq(("b", 2L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.upsert(Seq(("c", 3L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    // rollback to version 2 through SQL == restoreTo on a twin
    val restored = spark.sql(s"CALL rollback_to_instant(table => '$name', version => 2)")
      .as[String].collect().head
    assert(restored === "4")
    val (name2, dir2, lt2) = fresh("call-vac-twin")
    lt2.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt2.upsert(Seq(("b", 2L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt2.upsert(Seq(("c", 3L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt2.restoreTo(2L)
    val viaSql = lt.snapshot.select("_key").as[String].collect().toSet
    assert(viaSql === lt2.snapshot.select("_key").as[String].collect().toSet)
    assert(viaSql === Set("a", "b"))
    // the post-rollback catalog entry reads the restored state
    assert(spark.sql(s"SELECT _key FROM $name").as[String].collect().toSet === Set("a", "b"))
    // vacuum through SQL == Scala vacuum count on the twin
    val removedSql = spark.sql(s"CALL run_vacuum(table => '$name', keep_versions => 1)")
      .as[Long].collect().head
    val removedScala = lt2.vacuum(keepVersions = 1)
    assert(removedSql === removedScala.toLong)
    assert(removedSql > 0, "retention must remove the undone snapshots")
    spark.sql(s"DROP TABLE $name")
  }

  test("CALL show_commits lists versions; drop_partitions routes; unknown procedure is loud") {
    val (name, dir, lt) = fresh("call-show")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"), commitId = "c1")
    lt.upsert(Seq(("b", 2L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"), commitId = "c2")
    register(name, dir)
    val commits = spark.sql(s"CALL show_commits(table => '$name')")
      .select("version", "commit_id").as[(Long, String)].collect().toSeq
    assert(commits === Seq((2L, "c2"), (1L, "c1"))) // newest first
    val e = intercept[Exception](spark.sql(s"CALL graft.bogus_proc(table => '$name')"))
    assert(msgs(e).contains("unknown procedure"), msgs(e))
    val e2 = intercept[Exception](
      spark.sql(s"CALL drop_partitions(table => '$name', partitions => 'x')"))
    assert(msgs(e2).contains("partitioned"), msgs(e2))
    spark.sql(s"DROP TABLE $name")

    // partitioned: drop_partitions through SQL == Scala dropPartitions
    n += 1
    val pname = s"sqlx_t$n"
    val pdir = tempDir("call-drop-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, pdir, "region", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"), ("c", 1L, 30L, "ap"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    register(pname, pdir)
    assert(spark.sql(s"CALL show_partitions(table => '$pname')")
      .as[String].collect().toSeq === Seq("ap", "eu", "us"))
    val dropped = spark.sql(s"CALL drop_partitions(table => '$pname', partitions => 'us,ap,nope')")
      .as[Long].collect().head
    assert(dropped === 2L)
    assert(pt.partitions === Seq("eu"))
    assert(spark.sql(s"SELECT _key FROM $pname").as[String].collect().toSet === Set("a"))
    spark.sql(s"DROP TABLE $pname")
  }

  test("CALL savepoint lifecycle == Scala savepoint/releaseSavepoint") {
    val (name, dir, lt) = fresh("call-sp")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.upsert(Seq(("b", 2L, 20L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    register(name, dir)
    spark.sql(s"CALL create_savepoint(table => '$name', version => 1)")
    assert(lt.savepoints === Seq(1L), "SQL savepoint must be the Scala-visible pin")
    assert(spark.sql(s"CALL show_savepoints(table => '$name')")
      .as[(Option[String], Long)].collect().toSeq === Seq((None, 1L)))
    // the pin holds: vacuum keeps version 1 readable
    spark.sql(s"CALL run_vacuum(table => '$name', keep_versions => 1)")
    assert(spark.sql(s"SELECT _key FROM $name VERSION AS OF 1")
      .as[String].collect().toSet === Set("a"))
    spark.sql(s"CALL delete_savepoint(table => '$name', version => 1)")
    assert(lt.savepoints.isEmpty)
    spark.sql(s"DROP TABLE $name")
  }

  test("partitioned savepoints take a JSON version vector (r19)") {
    n += 1
    val name = s"sqlx_t$n"
    val dir = tempDir("call-psp-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region")) // eu@1, us@1
    // eu@2 REWRITES a's bucket (the only occupied one), so eu@1's data
    // dir is referenced by no later manifest — held alive only by the pin
    pt.upsert(Seq(("a", 2L, 12L, "eu"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region")) // eu@2
    register(name, dir)
    spark.sql(s"""CALL create_savepoint(table => '$name', version => '{"eu": 1}')""")
    assert(pt.partitionTable("eu").savepoints === Seq(1L),
      "the SQL savepoint must be the Scala-visible per-partition pin")
    assert(spark.sql(s"CALL show_savepoints(table => '$name')")
      .as[(String, Long)].collect().toSeq === Seq(("eu", 1L)))
    // the pin holds per partition: vacuum keeps eu@1 readable
    spark.sql(s"CALL run_vacuum(table => '$name', keep_versions => 1)")
    assert(spark.sql(s"""SELECT _key FROM $name VERSION AS OF '{"eu": 1, "us": 1}'""")
      .as[String].collect().toSet === Set("a", "b"))
    spark.sql(s"""CALL delete_savepoint(table => '$name', version => '{"eu": 1}')""")
    assert(pt.partitionTable("eu").savepoints.isEmpty)
    // released: the next vacuum reclaims eu@1 and its time travel is loud
    spark.sql(s"CALL run_vacuum(table => '$name', keep_versions => 1)")
    val e = intercept[Exception](
      spark.sql(s"""SELECT _key FROM $name VERSION AS OF '{"eu": 1}'""").collect())
    assert(msgs(e).contains("vacuum"), msgs(e))
    // scalar versions on a partitioned table stay loud; unknown partitions too
    val e2 = intercept[Exception](
      spark.sql(s"CALL create_savepoint(table => '$name', version => 2)"))
    assert(msgs(e2).contains("vector"), msgs(e2))
    val e3 = intercept[Exception](
      spark.sql(s"""CALL create_savepoint(table => '$name', version => '{"nope": 1}')"""))
    assert(msgs(e3).contains("unknown partitions"), msgs(e3))
    spark.sql(s"DROP TABLE $name")
  }

  test("composite partition identities flow through CALL + time travel (r20)") {
    n += 1
    val name = s"sqlx_t$n"
    val dir = tempDir("call-comp-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region,day", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, 10L, "eu", "d1"), ("b", 1L, 20L, "us", "d1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region", "day"))
    pt.upsert(Seq(("a", 2L, 12L, "eu", "d1"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region", "day"))
    register(name, dir)
    // identities are the slash-joined component paths everywhere
    assert(spark.sql(s"CALL show_partitions(table => '$name')")
      .as[String].collect().toSeq === Seq("eu/d1", "us/d1"))
    assert(spark.sql(s"""SELECT _key, amount FROM $name VERSION AS OF '{"eu/d1": 1}'""")
      .as[(String, Long)].collect().toSeq === Seq(("a", 10L)))
    spark.sql(s"""CALL create_savepoint(table => '$name', version => '{"eu/d1": 1}')""")
    assert(spark.sql(s"CALL show_savepoints(table => '$name')")
      .as[(String, Long)].collect().toSeq === Seq(("eu/d1", 1L)))
    spark.sql(s"""CALL rollback_to_instant(table => '$name', version => '{"eu/d1": 1}')""")
    spark.catalog.refreshTable(name)
    assert(spark.sql(s"SELECT amount FROM $name WHERE _key = 'a'")
      .as[Long].collect().toSeq === Seq(10L))
    // pruned read: equality on EITHER component prunes (partition-pruned
    // route handles the identity matching; result equality is the gate)
    assert(spark.sql(s"SELECT _key FROM $name WHERE region = 'us' AND day = 'd1'")
      .as[String].collect().toSeq === Seq("b"))
    // show_commits rows carry the composite identity per version
    val commits = spark.sql(s"CALL show_commits(table => '$name')")
      .select("partition", "version").as[(String, Long)].collect().toSeq
    assert(commits.count(_._1 == "eu/d1") >= 2 && commits.exists(_._1 == "us/d1"),
      s"show_commits must list composite identities: $commits")
    assert(spark.sql(s"CALL drop_partitions(table => '$name', partitions => 'us/d1')")
      .as[Long].collect().toSeq === Seq(1L))
    spark.catalog.refreshTable(name)
    assert(spark.sql(s"SELECT _key FROM $name").as[String].collect().toSeq === Seq("a"))
    spark.sql(s"DROP TABLE $name")
  }

  test("CALL run_clustering re-sorts existing file groups on the Z-curve (r19)") {
    n += 1
    val name = s"sqlx_t$n"
    val dir = tempDir("call-clust-").resolve("t").toString
    // One bucket, four files, per-file stats: before clustering the files
    // are key-hash-random row subsets, so every file spans ~the full x
    // range and a range predicate prunes nothing at file level.
    val lt = new LakeTable(spark, dir, numBuckets = 1, filesPerBucket = 4,
      bloomOnWrite = false, statsColumns = Seq("x", "y"))
    val rows = (0 until 400).map(i => (s"k$i", 1L, i.toLong, i.toLong))
    lt.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y"))
    spark.sql(
      s"""CREATE TABLE $name USING `cdc-lake`
         |OPTIONS (path '$dir', buckets '1', filesPerBucket '4',
         |         bloomOnWrite 'false', statsColumns 'x,y')""".stripMargin)
    val filters = Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("x", 300L))
    def filesScanned(): Int = {
      val t = new LakeTable(spark, dir, numBuckets = 1, statsColumns = Seq("x", "y"))
      t.statsPrune(t.latestVersion.get, filters)
        .map(_.inputFiles.length)
        .getOrElse(t.snapshot.inputFiles.length)
    }
    def state(): Seq[(String, Long, Long)] = {
      val t = new LakeTable(spark, dir, numBuckets = 1)
      t.snapshot.select(LakeTable.KeyCol, "x", "y")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    val (filesBefore, stateBefore) = (filesScanned(), state())
    assert(filesBefore === 4, s"precondition: un-clustered files unprunable, got $filesBefore")
    spark.sql(s"CALL run_clustering(table => '$name', columns => 'x,y')")
    assert(state() === stateBefore, "clustering must not change table state")
    val filesAfter = filesScanned()
    assert(filesAfter < filesBefore,
      s"file-level stats prune must improve: before=$filesBefore after=$filesAfter")
    // wrong column counts are loud; so is omitting columns on an
    // un-declared table
    val e = intercept[Exception](
      spark.sql(s"CALL run_clustering(table => '$name', columns => 'x')"))
    assert(msgs(e).contains("2-4"), msgs(e))
    val e2 = intercept[Exception](
      spark.sql(s"CALL run_clustering(table => '$name')"))
    assert(msgs(e2).contains("zorderBy"), msgs(e2))
    spark.sql(s"DROP TABLE $name")

    // partitioned: run_clustering rewrites every partition, state equal
    n += 1
    val pname = s"sqlx_t$n"
    val pdir = tempDir("call-clustp-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, pdir, "region", numBuckets = 2)
    val prows = (0 until 100).map(i =>
      (s"k$i", 1L, i.toLong, i.toLong, if (i % 2 == 0) "eu" else "us"))
    pt.upsert(prows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "x", "y", "region"))
    register(pname, pdir)
    val before = pt.snapshot.select(LakeTable.KeyCol, "x", "region")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    spark.sql(s"CALL run_clustering(table => '$pname', columns => 'x,y')")
    val after = pt.snapshot.select(LakeTable.KeyCol, "x", "region")
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(after === before, "partitioned clustering must not change state")
    spark.sql(s"DROP TABLE $pname")
  }

  test("CALL rollback_to_instant before ALTER TABLE ADD COLUMNS narrows the catalog entry") {
    val (name, dir, lt) = fresh("call-rb-add")
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")) // v1
    register(name, dir)
    spark.sql(s"ALTER TABLE $name ADD COLUMNS (note STRING)") // v2
    spark.sql(s"INSERT INTO $name VALUES ('b', 2, 20, 'x')") // v3
    assert(spark.table(name).columns.contains("note"))
    val restored = spark.sql(s"CALL rollback_to_instant(table => '$name', version => 1)")
      .as[String].collect().head
    assert(restored === "4")
    // the catalog follows the restored (narrower) stored schema, so the
    // table still resolves and reads the pre-add rows
    val back = spark.sql(s"SELECT * FROM $name")
    assert(back.columns.toSeq === Seq(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    assert(back.select(LakeTable.KeyCol, "amount").as[(String, Long)].collect().toSeq ===
      Seq(("a", 10L)))
    spark.sql(s"DROP TABLE $name")
  }
}
