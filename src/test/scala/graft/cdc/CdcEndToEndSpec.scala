package graft.cdc

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.lake.LakeTable

/** Plugin transformer used by the reflective-loading test. */
class AgePlusTen extends graft.util.BatchTransformer {
  override def transform(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.withColumn("age", org.apache.spark.sql.functions.col("age") + 10)
}

/** Config-aware plugin used by the passthrough-extras test: reads its
  * bump amount from the table's unrecognized `<db>.<table>.*` keys.
  */
class AgeBumpFromExtras extends graft.util.ConfigAwareTransformer {
  override def transform(
      df: org.apache.spark.sql.DataFrame,
      options: Map[String, String]): org.apache.spark.sql.DataFrame =
    df.withColumn("age",
      org.apache.spark.sql.functions.col("age") + options("age.bump").toLong)
}

/** End-to-end CDC replay vs an in-memory map oracle (SURVEY.md §5.3):
  * synthetic binlog JSON batches → CdcSyncCommand → read tables back.
  * Covers multi-table routing, delete-heavy streams, and replayed-batch
  * idempotency.
  */
class CdcEndToEndSpec extends SparkSpec {
  import spark.implicits._

  private val personSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("age", LongType))).json

  private val citySchema = StructType(Seq(
    StructField("code", StringType),
    StructField("pop", LongType))).json

  private def esc(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private def env(db: String, table: String, schema: String, ts: Long,
      op: String, rows: Seq[String]): String =
    s"""{"databaseName":"$db","tableName":"$table","schema":${esc(schema)},""" +
      s""""timestamp":$ts,"type":"$op","rows":[${rows.mkString(",")}]}"""

  private def options(root: String) = Map(
    "option.lake.path" -> s"$root/{db}/ods_{db}_{table}",
    "db.person.recordkey.field" -> "id",
    "db.city.recordkey.field" -> "code",
    "db.person.buckets" -> "4",
    "db.city.buckets" -> "2")

  test("multi-table upserts + deletes merge to the oracle state") {
    val root = tempDir("cdc-").toString
    val batch1 = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}""")),
      env("db", "city", citySchema, 1L, "upsert", Seq(
        """{"code":"nyc","pop":8}""", """{"code":"sf","pop":1}""")))
    val batch2 = Seq(
      // update person 1, delete person 2, insert person 3
      env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":1,"name":"ann2","age":31}""", """{"id":3,"name":"cyn","age":50}""")),
      env("db", "person", personSchema, 3L, "delete", Seq(
        """{"id":2,"name":"bob","age":40}""")))

    CdcSyncCommand.run(batch1.toDF("value"), options(root), batchId = 1L)
    CdcSyncCommand.run(batch2.toDF("value"), options(root), batchId = 2L)

    val person = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name", "age").as[(Long, String, Long)].collect().sortBy(_._1)
    assert(person.toSeq == Seq((1L, "ann2", 31L), (3L, "cyn", 50L)))

    val city = new LakeTable(spark, s"$root/db/ods_db_city", 2).snapshot
      .select("code", "pop").as[(String, Long)].collect().sortBy(_._1)
    assert(city.toSeq == Seq(("nyc", 8L), ("sf", 1L)))
  }

  test("merge.mode=partial composes column fragments end-to-end (same batch AND across batches)") {
    val root = tempDir("cdc-").toString
    val opts = options(root) +
      ("db.person.hoodie.datasource.write.payload.class" ->
        "org.apache.hudi.common.model.PartialUpdateAvroPayload")
    // batch 1: full row, then TWO fragments for id=1 in the SAME batch —
    // one renames (age absent -> null), one re-ages (name absent). The
    // whole-row in-batch LWW would keep only the ts=3 fragment and lose
    // the rename forever.
    val batch1 = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""", """{"id":2,"name":"bob","age":40}""")),
      env("db", "person", personSchema, 2L, "upsert", Seq("""{"id":1,"name":"ann2"}""")),
      env("db", "person", personSchema, 3L, "upsert", Seq("""{"id":1,"age":31}""")))
    CdcSyncCommand.run(batch1.toDF("value"), opts, batchId = 1L)
    val t = new LakeTable(spark, s"$root/db/ods_db_person", 4,
      mergeMode = LakeTable.PartialMode)
    def state() = t.snapshot.select("id", "name", "age")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state() == Seq((1L, "ann2", 31L), (2L, "bob", 40L)))
    // batch 2: an out-of-order MIDDLE-aged fragment (ts=2.5 impossible —
    // use a fresh column fragment older than the stored age's time but
    // newer than the name's): name@ts2 stands vs stale@ts1; age
    // composes; plus a delete for id=2 still drops the whole row.
    val batch2 = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"stale","age":29}""")), // both lose (ts 1 < 2,3)
      env("db", "person", personSchema, 4L, "upsert", Seq("""{"id":1,"age":32}""")),
      env("db", "person", personSchema, 4L, "delete", Seq(
        """{"id":2,"name":"bob","age":40}""")))
    CdcSyncCommand.run(batch2.toDF("value"), opts, batchId = 2L)
    assert(state() == Seq((1L, "ann2", 32L)))
  }

  test("partial tables: in-batch delete vs fragment order resolves by event time") {
    val root = tempDir("cdc-").toString
    val opts = options(root) + ("db.person.merge.mode" -> "partial")
    CdcSyncCommand.run(Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}"""))).toDF("value"), opts, batchId = 1L)
    // ONE batch holding, for id=1: fragment@2 (dies to the delete@3),
    // delete@3 (superseded by the newer reinsert), reinsert@4. The naive
    // split would let the delete win and drop id=1 entirely. For id=2 the
    // delete IS newest → the row goes.
    val batch2 = Seq(
      env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":1,"name":"dead"}""", """{"id":2,"age":41}""")),
      env("db", "person", personSchema, 3L, "delete", Seq(
        """{"id":1}""", """{"id":2}""")),
      env("db", "person", personSchema, 4L, "upsert", Seq(
        """{"id":1,"name":"reborn","age":50}""")))
    CdcSyncCommand.run(batch2.toDF("value"), opts, batchId = 2L)
    val t = new LakeTable(spark, s"$root/db/ods_db_person", 4,
      mergeMode = LakeTable.PartialMode)
    val got = t.snapshot.select("id", "name", "age")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "reborn", 50L)),
      s"reinsert after in-batch delete must survive; delete-newest must not: $got")
  }

  test("merge.mode=partial composes on a table.type=mor table (r14: read-side collapse)") {
    // Same fragment flow as the partial test, but the commits land as
    // delta files and the per-column winners come from the mor stack
    // collapse at read — the CDC surface for Hudi's
    // PartialUpdateAvroPayload-on-MOR combination.
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map(
      "db.person.merge.mode" -> "partial",
      "db.person.table.type" -> "mor",
      "db.person.compact.deltas" -> "10")
    CdcSyncCommand.run(Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}"""))).toDF("value"), opts, batchId = 1L)
    CdcSyncCommand.run(Seq(
      env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":1,"age":31}"""))).toDF("value"), opts, batchId = 2L)
    CdcSyncCommand.run(Seq(
      env("db", "person", personSchema, 3L, "upsert", Seq(
        """{"id":1,"name":"anne"}""", """{"id":2,"age":41}"""))).toDF("value"),
      opts, batchId = 3L)
    val t = new LakeTable(spark, s"$root/db/ods_db_person", 4,
      tableType = LakeTable.MorType, compactAfter = 10,
      mergeMode = LakeTable.PartialMode)
    // batches 2/3 must be DELTA commits (no fold at this cadence): the
    // read-optimized view then still shows batch-1 base state
    val ro = t.snapshotReadOptimized.select("id", "name", "age")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(ro == Seq((1L, "ann", 30L), (2L, "bob", 40L)),
      s"batches 2/3 should be delta commits (ro = fold-time state): $ro")
    val got = t.snapshot.select("id", "name", "age")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "anne", 31L), (2L, "bob", 41L)),
      s"per-column winners must compose across the delta stack: $got")
  }

  test("table.type=mor routes CDC batches through delta commits; Hudi synonym accepted") {
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map(
      "db.person.table.type" -> "mor",
      // Hudi-name synonym on the other table (case-insensitive value)
      "db.city.hoodie.datasource.write.table.type" -> "MERGE_ON_READ",
      "db.person.compact.deltas" -> "8")
    val batch1 = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}""")),
      env("db", "city", citySchema, 1L, "upsert", Seq("""{"code":"nyc","pop":8}""")))
    val batch2 = Seq(
      env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":1,"name":"ann2","age":31}""")),
      env("db", "person", personSchema, 3L, "delete", Seq(
        """{"id":2,"name":"bob","age":40}""")),
      env("db", "city", citySchema, 2L, "upsert", Seq("""{"code":"sf","pop":1}""")))
    CdcSyncCommand.run(batch1.toDF("value"), opts, batchId = 1L)
    CdcSyncCommand.run(batch2.toDF("value"), opts, batchId = 2L)

    val personTable = new LakeTable(spark, s"$root/db/ods_db_person", 4)
    // batch 2's upsert+delete landed as ONE delta commit, not a rewrite.
    assert(personTable.deltaDepths.nonEmpty,
      "expected live delta stacks on the mor person table")
    // A PLAIN reader (no mor flag) sees the merged state.
    val person = personTable.snapshot
      .select("id", "name", "age").as[(Long, String, Long)].collect().sortBy(_._1)
    assert(person.toSeq == Seq((1L, "ann2", 31L)))
    val cityTable = new LakeTable(spark, s"$root/db/ods_db_city", 2)
    assert(cityTable.deltaDepths.nonEmpty,
      "expected live delta stacks on the synonym-configured city table")
    val city = cityTable.snapshot
      .select("code", "pop").as[(String, Long)].collect().sortBy(_._1)
    assert(city.toSeq == Seq(("nyc", 8L), ("sf", 1L)))
  }

  test("multi-table staging stages on the lake FileSystem and cleans up") {
    val root = tempDir("cdc-").toString
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""")),
      env("db", "city", citySchema, 1L, "upsert", Seq(
        """{"code":"nyc","pop":8}""")))
    // Derived staging root: _graft_staging NEXT TO the table paths (the
    // lake FileSystem — executor-visible on a real cluster), never the
    // driver's java.io.tmpdir.
    CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 1L)
    val derived = new java.io.File(s"$root/db/_graft_staging")
    assert(derived.isDirectory, "staging root should be created beside the tables")
    assert(derived.listFiles().isEmpty, "per-batch staging dirs must be cleaned up")
    // Explicit option.staging.path wins over the derived default.
    val explicitRoot = s"$root/explicit_stage"
    val batch2 = Seq(
      env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":2,"name":"bob","age":40}""")),
      env("db", "city", citySchema, 2L, "upsert", Seq(
        """{"code":"sf","pop":1}""")))
    CdcSyncCommand.run(
      batch2.toDF("value"),
      options(root) + (CdcSyncCommand.StagingPathKey -> explicitRoot), batchId = 2L)
    val explicitDir = new java.io.File(explicitRoot)
    assert(explicitDir.isDirectory && explicitDir.listFiles().isEmpty)
    val person = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(person.toSeq == Seq((1L, "ann"), (2L, "bob")))
    val city = new LakeTable(spark, s"$root/db/ods_db_city", 2).snapshot
      .select("code", "pop").as[(String, Long)].collect().sortBy(_._1)
    assert(city.toSeq == Seq(("nyc", 8L), ("sf", 1L)))
  }

  test("tables named 1 and 01 in one batch each merge only their own rows") {
    // Staged under _table=1 and _table=01: read back as integers, both
    // would equal 1 and each sink would merge the other table's changes.
    val root = tempDir("cdc-numtab-").toString
    val batch = Seq(
      env("db", "1", citySchema, 1L, "upsert", Seq("""{"code":"a","pop":1}""")),
      env("db", "01", citySchema, 1L, "upsert", Seq(
        """{"code":"b","pop":2}""", """{"code":"c","pop":3}""")))
    val opts = Map(
      "option.lake.path" -> s"$root/{db}/ods_{db}_{table}",
      "db.1.recordkey.field" -> "code", "db.1.buckets" -> "2",
      "db.01.recordkey.field" -> "code", "db.01.buckets" -> "2")
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    def codes(table: String): Seq[String] =
      new LakeTable(spark, s"$root/db/ods_db_$table", 2).snapshot
        .select("code").as[String].collect().sorted.toSeq
    assert(codes("1") == Seq("a"))
    assert(codes("01") == Seq("b", "c"))
  }

  test("within-batch LWW: delete-then-upsert and upsert-then-delete resolve by ts") {
    val root = tempDir("cdc-").toString
    val batch = Seq(
      env("db", "person", personSchema, 5L, "delete", Seq("""{"id":1,"name":"x","age":1}""")),
      env("db", "person", personSchema, 6L, "upsert", Seq("""{"id":1,"name":"alive","age":2}""")),
      env("db", "person", personSchema, 6L, "upsert", Seq("""{"id":2,"name":"y","age":3}""")),
      env("db", "person", personSchema, 7L, "delete", Seq("""{"id":2,"name":"y","age":3}""")))
    CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 1L)
    val person = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    // id=1: upsert at ts 6 beats delete at ts 5; id=2: delete at ts 7 wins
    assert(person.toSeq == Seq((1L, "alive")))
  }

  test("replayed batchId is a no-op (exactly-once over at-least-once delivery)") {
    val root = tempDir("cdc-").toString
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"a","age":1}""")))
    CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 7L)
    val conflicting = Seq(
      env("db", "person", personSchema, 9L, "upsert", Seq("""{"id":1,"name":"REPLAY","age":9}""")))
    CdcSyncCommand.run(conflicting.toDF("value"), options(root), batchId = 7L)
    val person = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("name").as[String].collect()
    assert(person.toSeq == Seq("a"))
  }

  test("batch committed under the pre-merge two-id scheme replays without a phantom merge commit") {
    // An in-flight checkpoint upgraded across the one-commit-per-table
    // change: batch 5 already committed under the legacy ':upsert' id.
    // The replay must route through the legacy ids (completing or
    // no-oping) — deriving ':merge' would match nothing and re-apply the
    // batch as a spurious new version (r9 review).
    val root = tempDir("cdc-mig-").toString
    val lake = new LakeTable(spark, s"$root/db/ods_db_person", 4)
    lake.upsert(
      Seq(("legacy-key", 1L, "legacy")).toDF("_key", "_ts", "payload"),
      commitId = "b5:db.person:upsert")
    assert(lake.latestVersion.contains(1L))

    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"ann","age":30}""")),
      env("db", "person", personSchema, 2L, "delete", Seq("""{"id":9,"name":"zz","age":1}""")))
    CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 5L)
    // Upsert skipped (legacy id committed); the delete key matches nothing
    // (bloom-pruned all-absent -> no version). NO phantom ':merge' commit.
    assert(lake.latestVersion.contains(1L),
      s"legacy-committed batch must not re-apply, got version ${lake.latestVersion}")
    assert(!lake.isCommitted("b5:db.person:merge"))

    // A NEW batch id takes the merge path normally.
    CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 6L)
    assert(lake.isCommitted("b6:db.person:merge"))
    assert(lake.latestVersion.contains(2L))
  }

  test("partitioned isCommitted sees any partition's scoped legacy commit") {
    val root = tempDir("cdc-mig-p-").toString
    val pt = new graft.lake.PartitionedLakeTable(spark, root, "day", numBuckets = 2)
    pt.upsert(
      Seq(("a", 1L, "d1", "x")).toDF("_key", "_ts", "day", "payload"),
      commitId = "b3:db.t:upsert")
    assert(pt.isCommitted("b3:db.t:upsert"))
    assert(!pt.isCommitted("b3:db.t:merge"))
    assert(!pt.isCommitted(""))
    // Bounded (hot-path) probe: only the named partitions are consulted.
    assert(pt.isCommitted("b3:db.t:upsert", Seq("d1")))
    assert(pt.isCommitted("b3:db.t:upsert", Seq(null, "d1", "nope")))
    assert(!pt.isCommitted("b3:db.t:upsert", Seq("d2")))
    assert(!pt.isCommitted("b3:db.t:upsert", Seq.empty))
  }

  test("random CDC replay converges to the in-memory map oracle") {
    val root = tempDir("cdc-").toString
    val rnd = new scala.util.Random(7)
    var ts = 0L
    val oracle = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val batches = (1 to 4).map { _ =>
      (1 to 30).map { _ =>
        ts += 1
        val id = rnd.nextInt(10).toLong
        if (rnd.nextInt(4) == 0) {
          oracle.remove(id)
          env("db", "person", personSchema, ts, "delete",
            Seq(s"""{"id":$id,"name":"_","age":0}"""))
        } else {
          val name = s"n$ts"
          oracle(id) = (name, ts)
          env("db", "person", personSchema, ts, "upsert",
            Seq(s"""{"id":$id,"name":"$name","age":$ts}"""))
        }
      }
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      CdcSyncCommand.run(b.toDF("value"), options(root), batchId = i.toLong)
    }
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    val want = oracle.toSeq.map { case (id, (name, _)) => (id, name) }.sortBy(_._1)
    assert(got.toSeq == want)
  }

  test("in-band schema drift across batches: new column appears, old rows null") {
    val root = tempDir("cdc-").toString
    val v2Schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("age", LongType),
      StructField("email", StringType))).json
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert",
        Seq("""{"id":1,"name":"ann","age":30}"""))).toDF("value"),
      options(root), batchId = 1L)
    CdcSyncCommand.run(
      Seq(env("db", "person", v2Schema, 2L, "upsert",
        Seq("""{"id":2,"name":"bob","age":40,"email":"b@x"}"""))).toDF("value"),
      options(root), batchId = 2L)
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name", "email").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)))).sortBy(_._1)
    assert(got.toSeq == Seq((1L, "ann", None), (2L, "bob", Some("b@x"))))
  }

  test("reference README option block runs verbatim (keygenerator declared)") {
    // The per-table block from /root/reference/README.md:46-65, unchanged
    // except the paths point at the test dir: hoodie.base.path,
    // hoodie.table.name, recordkey/precombine fields, and
    // keygenerator.class=NonpartitionedKeyGenerator must all be accepted
    // with their reference names (VERDICT r6 #5).
    val root = tempDir("cdc-").toString
    val opts = Map(
      "option.hoodie.path" -> s"$root/{db}/ods_{db}_{table}",
      "db_issue_clear.person.hoodie.base.path" -> s"$root/db_issue_clear/ods_db_issue_clear_person",
      "db_issue_clear.person.hoodie.table.name" -> "ods_db_issue_clear_person",
      "db_issue_clear.person.hoodie.datasource.write.recordkey.field" -> "id",
      "db_issue_clear.person.hoodie.datasource.write.precombine.field" -> "id",
      "db_issue_clear.person.hoodie.datasource.write.keygenerator.class" ->
        "org.apache.hudi.keygen.NonpartitionedKeyGenerator",
      "db_issue_clear.student.hoodie.base.path" -> s"$root/db_issue_clear/ods_db_issue_clear_student",
      "db_issue_clear.student.hoodie.table.name" -> "ods_db_issue_clear_student",
      "db_issue_clear.student.hoodie.datasource.write.recordkey.field" -> "id",
      "db_issue_clear.student.hoodie.datasource.write.precombine.field" -> "id",
      "db_issue_clear.student.hoodie.datasource.write.keygenerator.class" ->
        "org.apache.hudi.keygen.NonpartitionedKeyGenerator")
    val batch = Seq(
      env("db_issue_clear", "person", personSchema, 1L, "upsert",
        Seq("""{"id":1,"name":"ann","age":30}""")),
      env("db_issue_clear", "student", personSchema, 1L, "upsert",
        Seq("""{"id":7,"name":"stu","age":20}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 0L)
    val person = new LakeTable(spark,
      s"$root/db_issue_clear/ods_db_issue_clear_person").snapshot
    val student = new LakeTable(spark,
      s"$root/db_issue_clear/ods_db_issue_clear_student").snapshot
    assert(person.select("id", "name").as[(Long, String)].collect().toSeq ==
      Seq((1L, "ann")))
    assert(student.select("id", "name").as[(Long, String)].collect().toSeq ==
      Seq((7L, "stu")))
  }

  test("keygenerator declarations validate instead of being silently ignored") {
    def resolve(extra: (String, String)*): TableConfig =
      TableConfig.resolve(
        Map("option.lake.path" -> "/tmp/{db}/{table}",
          "db.t.recordkey.field" -> "id") ++ extra, "db", "t")
    // Unknown keygen class -> loud failure, not extras passthrough.
    val e1 = intercept[IllegalArgumentException] {
      resolve("db.t.hoodie.datasource.write.keygenerator.class" ->
        "org.apache.hudi.keygen.TimestampBasedKeyGenerator")
    }
    assert(e1.getMessage.contains("unsupported keygenerator"))
    // Nonpartitioned + a partition field contradict each other.
    val e2 = intercept[IllegalArgumentException] {
      resolve(
        "db.t.keygen.class" -> "NonpartitionedKeyGenerator",
        "db.t.partition.field" -> "region")
    }
    assert(e2.getMessage.contains("contradicts"))
    // Simple requires exactly one key + a partition field.
    val e3 = intercept[IllegalArgumentException] {
      resolve(
        "db.t.keygen.class" -> "SimpleKeyGenerator",
        "db.t.recordkey.field" -> "id,name")
    }
    assert(e3.getMessage.contains("exactly one"))
    val e4 = intercept[IllegalArgumentException] {
      resolve("db.t.keygen.class" -> "SimpleKeyGenerator")
    }
    assert(e4.getMessage.contains("partition.field"))
    // The two supported layouts resolve cleanly.
    assert(resolve("db.t.keygen.class" -> "NonpartitionedKeyGenerator")
      .partitionField.isEmpty)
    val complex = resolve(
      "db.t.keygen.class" -> "org.apache.hudi.keygen.ComplexKeyGenerator",
      "db.t.recordkey.field" -> "id,name")
    assert(complex.recordKeyFields == Seq("id", "name"))
    val simple = resolve(
      "db.t.keygen.class" -> "SimpleKeyGenerator",
      "db.t.partition.field" -> "region")
    assert(simple.partitionField.contains("region"))
  }

  test("catalog sync registers lake tables; schema widening re-registers") {
    // The reference's hoodie.datasource.hive_sync surface: after the merge,
    // spark.table / SQL must see the current snapshot through the catalog.
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map(
      "option.catalog.sync" -> "true",
      // reference-style per-table hive-sync naming flows through extras
      "db.person.hoodie.datasource.hive_sync.table" -> "ods_person")
    val narrow = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("age", IntegerType))).json
    CdcSyncCommand.run(
      Seq(env("db", "person", narrow, 1L, "upsert",
        Seq("""{"id":1,"name":"ann","age":30}"""))).toDF("value"),
      opts, batchId = 0L)
    assert(spark.catalog.tableExists("db", "ods_person"))
    assert(spark.sql("SELECT name FROM db.ods_person").as[String].collect().toSeq
      == Seq("ann"))

    // Widen age int->long via in-band schema drift: the stored catalog
    // schema goes stale; the next synced batch must repair registration.
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 2L, "upsert",
        Seq("""{"id":2,"name":"bob","age":40}"""))).toDF("value"),
      opts, batchId = 1L)
    val got = spark.sql("SELECT id, name, age FROM db.ods_person ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "ann", 30L), (2L, "bob", 40L)))

    // Per-table synonym without the global key also syncs — and a
    // bloom-disabled table's registration carries bloomOnWrite=false so
    // SQL writes through the entry don't grow sidecars (ADVICE r16).
    CdcSyncCommand.run(
      Seq(env("db", "city", citySchema, 1L, "upsert",
        Seq("""{"code":"ber","pop":3600000}"""))).toDF("value"),
      options(root) ++ Map(
        "db.city.hoodie.datasource.hive_sync.enable" -> "true",
        "db.city.bloom.enable" -> "false"),
      batchId = 0L)
    assert(spark.catalog.tableExists("db", "city"))
    assert(spark.sql("SELECT pop FROM db.city").as[Long].collect().toSeq
      == Seq(3600000L))
    val props = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("city", Some("db")))
      .storage.properties
    assert(props.get("bloomOnWrite").contains("false"), props.toString)
  }

  test("SQL INSERT INTO a catalog-synced lake table runs the native upsert (r16)") {
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map("option.catalog.sync" -> "true")
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}"""))).toDF("value"),
      opts, batchId = 0L)
    assert(spark.catalog.tableExists("db", "person"))
    val k1 = spark.sql("SELECT _key FROM db.person WHERE id = 1").as[String].head()
    // INSERT INTO = the native LWW upsert: one new key, one update that
    // must WIN by _ts over the stored row
    spark.sql(
      s"""INSERT INTO db.person (_key, _ts, id, name, age) VALUES
         |  ('k-new', 5, 9, 'zoe', 25),
         |  ('$k1', 5, 1, 'ann-updated', 31)""".stripMargin)
    spark.catalog.refreshTable("db.person")
    val got = spark.sql("SELECT id, name, age FROM db.person ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq((1L, "ann-updated", 31L), (2L, "bob", 40L), (9L, "zoe", 25L)))
    // a STALE _ts must lose to the stored row (upsert, not append/replace)
    spark.sql(
      s"INSERT INTO db.person (_key, _ts, id, name, age) VALUES ('$k1', 0, 1, 'stale', 99)")
    spark.catalog.refreshTable("db.person")
    assert(spark.sql("SELECT name FROM db.person WHERE id = 1").as[String].head()
      == "ann-updated")
    // INSERT OVERWRITE is rejected loudly
    val e = intercept[Exception](spark.sql(
      "INSERT OVERWRITE TABLE db.person SELECT * FROM db.person"))
    assert(e.getMessage.contains("INSERT OVERWRITE"),
      s"unexpected: ${e.getMessage}")
    // writes through a pinned time-travel relation are rejected loudly
    val tt = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map(
        "path" -> s"$root/db/ods_db_person", "buckets" -> "4", "versionAsOf" -> "1"))
    val e2 = intercept[IllegalArgumentException](
      tt.insert(spark.sql("SELECT * FROM db.person"), overwrite = false))
    assert(e2.getMessage.contains("time-travel"))
    // a column list omitting the contract columns analyzes (NULL fill)
    // but the in-plan guard raises before any null-key row can merge
    val e3 = intercept[Exception](spark.sql(
      "INSERT INTO db.person (id, name, age) VALUES (7, 'nokey', 1)"))
    def rootMsg(t: Throwable): String =
      (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | "))
    assert(rootMsg(e3).contains("non-null"), s"unexpected: ${rootMsg(e3)}")
    // and the failed insert must not have changed table state
    spark.catalog.refreshTable("db.person")
    assert(spark.sql("SELECT count(*) FROM db.person").as[Long].head() == 3L)
  }

  test("inline compaction runs on its batch cadence and replays idempotently") {
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map(
      "db.person.write.operation" -> "insert",
      "db.person.compact.every" -> "2")
    def batch(id: Long, rows: String*): Unit =
      CdcSyncCommand.run(
        Seq(env("db", "person", personSchema, id + 1, "upsert", rows)).toDF("value"),
        opts, batchId = id)

    batch(0L, """{"id":1,"name":"a","age":1}""")
    val lake = new LakeTable(spark, s"$root/db/ods_db_person", 4)
    val vAfterB0 = lake.latestVersion.get
    // batch 1 completes the cadence: insert commit + compaction commit
    batch(1L, """{"id":2,"name":"b","age":2}""")
    val vAfterB1 = lake.latestVersion.get
    assert(vAfterB1 == vAfterB0 + 2,
      s"expected insert + compaction commits, got $vAfterB0 -> $vAfterB1")
    assert(lake.snapshot.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // replayed batch: neither the insert nor the compaction re-applies
    batch(1L, """{"id":9,"name":"REPLAY","age":9}""")
    assert(lake.latestVersion.contains(vAfterB1))
    assert(lake.snapshot.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("transformer hook applies per-table SQL before the merge") {
    val root = tempDir("cdc-").toString
    val opts = options(root) +
      ("db.person.transformer.sql" ->
        "SELECT id, upper(name) AS name, age, _key, _ts FROM <SRC>")
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"ann","age":30}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("name").as[String].collect()
    assert(got.toSeq == Seq("ANN"))
  }

  test("transformer SQL reaches the native expression family (r14: Q1 surface)") {
    // The reference's hoodie.transformer.sql is the engine's SQL query
    // surface — the codegen'd operators must be callable there. The
    // transformer registers them idempotently, so a plain session (no
    // GraftExtensions conf) works.
    val root = tempDir("cdc-").toString
    val opts = options(root) +
      ("db.person.transformer.sql" ->
        ("SELECT id, name, age, _key, _ts, " +
          "multi_contains_count(name, array('an', 'ann', 'zzz')) AS hits " +
          "FROM <SRC>"))
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}"""))).toDF("value"),
      opts, batchId = 1L)
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "hits").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 2L), (2L, 0L)),
      "multi_contains_count must run inside the <SRC> transformer")
  }

  test("partition.field routes a table through PartitionedLakeTable") {
    val root = tempDir("cdc-").toString
    val opts = options(root) + ("db.person.partition.field" -> "name")
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""", """{"id":2,"name":"bob","age":40}""")),
      env("db", "person", personSchema, 2L, "delete", Seq(
        """{"id":2,"name":"bob","age":40}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    val plake = new graft.lake.PartitionedLakeTable(
      spark, s"$root/db/ods_db_person", "name", 4)
    assert(plake.partitions.nonEmpty)
    val got = plake.snapshot.select("id", "name").as[(Long, String)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "ann")))
    // pruned read of ann's partition only
    val ann = plake.snapshot(Seq("ann")).select("id").as[Long].collect()
    assert(ann.toSeq == Seq(1L))
  }

  test("the CDC sink keeps a table's stored layout; a contradicting partition.field fails") {
    def msgs(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")
    def batch(ts: Long, id: Int, name: String) = Seq(
      env("db", "person", personSchema, ts, "upsert",
        Seq(s"""{"id":$id,"name":"$name","age":30}"""))).toDF("value")
    def ids(path: String): Seq[Long] =
      graft.sources.LakeHandles.open(spark, path, 4).snapshot
        .select("id").as[Long].collect().sorted.toSeq
    val partitioned = "db.person.partition.field" -> "name"

    // committed plain data: declaring a partition column fails, and
    // writes no partitioned layout that would hide the plain rows
    val root = tempDir("cdc-").toString
    val plain = s"$root/db/ods_db_person"
    CdcSyncCommand.run(batch(1L, 1, "ann"), options(root), batchId = 1L)
    val e = intercept[Exception](
      CdcSyncCommand.run(batch(2L, 2, "bob"), options(root) + partitioned, batchId = 2L))
    assert(msgs(e).contains("PLAIN"), msgs(e))
    assert(graft.lake.PartitionedLakeTable.open(spark, plain, 4).isEmpty)
    assert(ids(plain) == Seq(1L))

    // a partitioned table whose config drops partition.field keeps
    // writing partitions: no plain commit log appears beside them
    val root2 = tempDir("cdc-").toString
    val parted = s"$root2/db/ods_db_person"
    CdcSyncCommand.run(batch(1L, 1, "ann"), options(root2) + partitioned, batchId = 1L)
    CdcSyncCommand.run(batch(2L, 2, "bob"), options(root2), batchId = 2L)
    assert(new LakeTable(spark, parted, 4).latestVersion.isEmpty)
    assert(ids(parted) == Seq(1L, 2L))
  }

  test("composite partition.field routes CDC batches through the nested layout (r20)") {
    val root = tempDir("cdc-").toString
    // Hudi ComplexKeyGenerator partition-path shape: comma-separated
    // partitionpath fields; deletes route by BOTH in-band values
    val opts = options(root) + ("db.person.partition.field" -> "name,age")
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}""",
        """{"id":3,"name":"ann","age":50}""")),
      env("db", "person", personSchema, 2L, "delete", Seq(
        """{"id":2,"name":"bob","age":40}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    val plake = new graft.lake.PartitionedLakeTable(
      spark, s"$root/db/ods_db_person", "name,age", 4)
    // bob/40 was created by the same batch's upsert and emptied by its
    // routed delete (delete-wins-in-batch) — it may linger as an empty
    // committed partition; the identities carry the layout assertion
    assert(Set("ann/30", "ann/50").subsetOf(plake.partitions.toSet),
      s"expected composite identities, got ${plake.partitions}")
    val got = plake.snapshot.select("id", "name", "age").as[(Long, String, Long)]
      .collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "ann", 30L), (3L, "ann", 50L)))
    // pruned read of one composite identity only
    assert(plake.snapshot(Seq("ann/50")).select("id").as[Long].collect().toSeq
      == Seq(3L))
    // replay is a per-partition no-op
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    assert(plake.snapshot.count() == 2)
  }

  test("class-based transformer plugin loads reflectively and applies") {
    val root = tempDir("cdc-").toString
    val opts = options(root) +
      ("db.person.transformer.class" -> classOf[graft.cdc.AgePlusTen].getName)
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert",
        Seq("""{"id":1,"name":"ann","age":30}"""))).toDF("value"),
      opts, batchId = 1L)
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("age").as[Long].collect()
    assert(got.toSeq == Seq(40L))
    // bad class name fails loudly
    val e = intercept[Exception](
      CdcSyncCommand.run(
        Seq(env("db", "person", personSchema, 2L, "upsert",
          Seq("""{"id":2,"name":"b","age":1}"""))).toDF("value"),
        options(root) + ("db.person.transformer.class" -> "java.lang.String"),
        batchId = 2L))
    assert(e.getMessage.contains("BatchTransformer") ||
      Option(e.getCause).exists(_.getMessage.contains("BatchTransformer")))
  }

  test("write.operation=insert routes through the bulk path; upserts still merge after") {
    val root = tempDir("cdc-").toString
    val opts = options(root) + ("db.person.write.operation" -> "insert")
    // initial load: unique keys through the no-merge bulk path
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert", Seq(
        """{"id":1,"name":"ann","age":30}""",
        """{"id":2,"name":"bob","age":40}"""))).toDF("value"),
      opts, batchId = 1L)
    // replay of the same batch is still a no-op under insert
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 9L, "upsert", Seq(
        """{"id":1,"name":"GHOST","age":99}"""))).toDF("value"),
      opts, batchId = 1L)
    val lake = new LakeTable(spark, s"$root/db/ods_db_person", 4)
    assert(lake.snapshot.count() == 2)
    // a later batch under default upsert semantics merges on top
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 2L, "upsert", Seq(
        """{"id":1,"name":"ann2","age":31}"""))).toDF("value"),
      options(root), batchId = 2L)
    val got = lake.snapshot.select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, "ann2"), (2L, "bob")))
    // invalid operation value fails config resolution loudly
    val e = intercept[IllegalArgumentException](CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 3L, "upsert", Seq("""{"id":9,"name":"x","age":1}""")))
        .toDF("value"),
      options(root) + ("db.person.write.operation" -> "bogus"), batchId = 3L))
    assert(e.getMessage.contains("write.operation"))
  }

  test("raw archival sink archives envelope text; batch replay doesn't duplicate") {
    val root = tempDir("cdc-").toString
    val rawDir = s"$root/raw"
    val opts = options(root) ++ Map(
      "option.keepraw.enable" -> "true", "option.raw.path" -> rawDir)
    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"a","age":1}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    val raw = CdcSource.jsonDirBatch(spark, rawDir).as[String].collect()
    assert(raw.length == 1 && raw.head.contains("\"tableName\":\"person\""))
    // at-least-once delivery replays batch 1: the archive must not grow
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 1L)
    // a NEW batch id lands alongside it
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 2L, "upsert",
        Seq("""{"id":2,"name":"b","age":2}"""))).toDF("value"),
      opts, batchId = 2L)
    val after = CdcSource.jsonDirBatch(spark, rawDir).as[String].collect()
    assert(after.length == 2, s"replay must not duplicate raw rows: ${after.length}")
  }

  test("keepbinlog aliases archive raw text; extras reach config-aware plugins") {
    val root = tempDir("cdc-").toString
    val rawDir = s"$root/binlog"
    val opts = options(root) ++ Map(
      // reference names, not ours (BinlogSyncHoodieCommand.scala:35-38)
      "option.keepbinlog.enable" -> "true",
      "option.binlog.path" -> rawDir,
      "db.person.transformer.class" -> classOf[graft.cdc.AgeBumpFromExtras].getName,
      // unanticipated per-table knob -> TableConfig.extras -> plugin
      "db.person.age.bump" -> "5")
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 1L, "upsert",
        Seq("""{"id":1,"name":"ann","age":30}"""))).toDF("value"),
      opts, batchId = 1L)
    val raw = CdcSource.jsonDirBatch(spark, rawDir).as[String].collect()
    assert(raw.length == 1 && raw.head.contains("\"tableName\":\"person\""))
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("age").as[Long].collect()
    assert(got.toSeq == Seq(35L))
  }

  test("two CDC streams writing ONE table both make progress (retry-with-remerge)") {
    // INDEPENDENT streams: each has its own checkpoint, so batchIds all
    // start at 0 — the SAME batchId from different streams must not look
    // like a replay. The per-stream commit namespace (derived from
    // checkpointLocation) disambiguates; the publish-race retry then lets
    // every stream land its batch.
    val root = tempDir("cdc-").toString
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val results =
      try {
        import scala.jdk.CollectionConverters._
        val tasks = (0 until 4).map { i =>
          new java.util.concurrent.Callable[Either[Throwable, Int]] {
            def call() =
              try {
                CdcSyncCommand.run(
                  Seq(env("db", "person", personSchema, i.toLong, "upsert",
                    Seq(s"""{"id":$i,"name":"n$i","age":$i}"""))).toDF("value"),
                  options(root) + ("checkpointLocation" -> s"$root/ckpt-stream-$i"),
                  batchId = 0L) // every stream's first batch
                Right(i)
              } catch { case e: Throwable => Left(e) }
          }
        }.asJava
        pool.invokeAll(tasks).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
    val failures = results.collect { case Left(e) => e }
    assert(failures.isEmpty, s"concurrent streams must retry past publish races: $failures")
    val got = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .select("id", "name").as[(Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == (0 until 4).map(i => (i.toLong, s"n$i")))
    // and a REPLAY of one stream's batch 0 (same checkpoint) stays a no-op
    CdcSyncCommand.run(
      Seq(env("db", "person", personSchema, 99L, "upsert",
        Seq("""{"id":0,"name":"REPLAY","age":99}"""))).toDF("value"),
      options(root) + ("checkpointLocation" -> s"$root/ckpt-stream-0"),
      batchId = 0L)
    val after = new LakeTable(spark, s"$root/db/ods_db_person", 4).snapshot
      .filter($"id" === 0L).select("name").as[String].collect()
    assert(after.toSeq == Seq("n0"), "same-stream replay must stay idempotent")
  }

  test("missing per-table config fails the batch with the reference error shape") {
    val root = tempDir("cdc-").toString
    val batch = Seq(
      env("db", "unknown", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"a","age":1}""")))
    val e = intercept[IllegalArgumentException](
      CdcSyncCommand.run(batch.toDF("value"), options(root), batchId = 1L))
    assert(e.getMessage.contains("db.unknown.recordkey.field"))
  }

  test("partitioned write.operation=insert: bulk path, routed deletes, compaction cadence, no-op replay") {
    val root = tempDir("cdc-").toString
    val opts = options(root) ++ Map(
      "db.person.partition.field" -> "name",
      "db.person.write.operation" -> "insert",
      "db.person.compact.every" -> "2")
    def run(id: Long, envs: String*): Unit =
      CdcSyncCommand.run(envs.toDF("value"), opts, batchId = id)
    val plake = new graft.lake.PartitionedLakeTable(
      spark, s"$root/db/ods_db_person", "name", 4)
    def state() = plake.snapshot.select("id", "name").as[(Long, String)]
      .collect().sortBy(_._1).toSeq

    run(0L, env("db", "person", personSchema, 1L, "upsert", Seq(
      """{"id":1,"name":"ann","age":30}""",
      """{"id":2,"name":"bob","age":40}""",
      """{"id":3,"name":"ann","age":50}""",
      """{"id":5,"name":"bob","age":70}""")))
    assert(state() == Seq((1L, "ann"), (2L, "bob"), (3L, "ann"), (5L, "bob")))
    assert(plake.currentVersions == Map("ann" -> 1L, "bob" -> 1L))
    assert(!plake.isCommitted("b0:db.person:compact"), "batch 0 is off the cadence")

    // batch 1: a bulk insert into a new partition, a delete routed by its
    // payload's partition value, then the cadence's compaction
    val batch1 = Seq(
      env("db", "person", personSchema, 2L, "upsert", Seq("""{"id":4,"name":"cat","age":60}""")),
      env("db", "person", personSchema, 3L, "delete", Seq("""{"id":2,"name":"bob","age":40}""")))
    run(1L, batch1: _*)
    assert(state() == Seq((1L, "ann"), (3L, "ann"), (4L, "cat"), (5L, "bob")))
    assert(plake.partitionTable("bob").isCommitted("b1:db.person:delete:p=bob"))
    assert(!plake.partitionTable("ann").isCommitted("b1:db.person:delete:p=ann"),
      "the delete must visit only the partition its payload names")
    assert(!plake.isCommitted("b1:db.person:delete:global"))
    Seq("ann", "bob", "cat").foreach { p =>
      assert(plake.partitionTable(p).isCommitted(s"b1:db.person:compact:p=$p"), p)
    }
    val after1 = plake.currentVersions
    assert(after1 == Map("ann" -> 2L, "bob" -> 3L, "cat" -> 2L))

    // replayed batch 1: neither the insert, the delete nor the
    // compaction re-applies in any partition
    run(1L, batch1: _*)
    assert(plake.currentVersions == after1)
    assert(state() == Seq((1L, "ann"), (3L, "ann"), (4L, "cat"), (5L, "bob")))
  }

  test("partitioned batch committed under the pre-merge two-id scheme replays without a merge commit") {
    // The partitioned twin of the plain migration replay above: the
    // legacy ':upsert' id is scoped per partition, and the replay probe
    // only consults the partitions the batch's upserts name.
    val root = tempDir("cdc-mig-pe-").toString
    val opts = options(root) + ("db.person.partition.field" -> "name")
    val plake = new graft.lake.PartitionedLakeTable(
      spark, s"$root/db/ods_db_person", "name", 4)
    plake.upsert(
      Seq(("legacy-key", 1L, 7L, "ann", 1L)).toDF("_key", "_ts", "id", "name", "age"),
      commitId = "b5:db.person:upsert")
    assert(plake.currentVersions == Map("ann" -> 1L))

    val batch = Seq(
      env("db", "person", personSchema, 1L, "upsert", Seq("""{"id":1,"name":"ann","age":30}""")),
      env("db", "person", personSchema, 2L, "delete", Seq("""{"id":9,"name":"zz","age":1}""")))
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 5L)
    // the upsert is skipped in 'ann' (its scoped legacy id is committed)
    // and the delete names a partition that does not exist: no version,
    // and no ':merge' commit anywhere
    assert(plake.currentVersions == Map("ann" -> 1L),
      s"legacy-committed batch must not re-apply, got ${plake.currentVersions}")
    assert(!plake.isCommitted("b5:db.person:merge"))
    assert(plake.snapshot.select("_key").as[String].collect().toSeq == Seq("legacy-key"))

    // a NEW batch id takes the merge path
    CdcSyncCommand.run(batch.toDF("value"), opts, batchId = 6L)
    assert(plake.isCommitted("b6:db.person:merge"))
    assert(plake.currentVersions == Map("ann" -> 2L))
    assert(plake.snapshot.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 7L))
  }
}
