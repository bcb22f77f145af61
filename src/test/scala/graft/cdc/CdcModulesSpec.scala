package graft.cdc

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

class CdcModulesSpec extends SparkSpec {
  import spark.implicits._

  // ---- Envelope -----------------------------------------------------------

  private val payloadSchemaJson =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType)
    )).json

  private def env(db: String, table: String, ts: Long, op: String, rows: String): String =
    s"""{"databaseName":"$db","tableName":"$table","schema":${escape(payloadSchemaJson)},""" +
      s""""timestamp":$ts,"type":"$op","rows":[$rows]}"""

  private def escape(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  test("Envelope.parse explodes raw-object rows and attaches __meta__") {
    val df = Seq(
      env("db1", "t1", 100L, "upsert", """{"id":1,"name":"a"},{"id":2,"name":"b"}"""),
      env("db1", "t1", 200L, "delete", """{"id":1,"name":"a"}""")
    ).toDF("value")
    val parsed = Envelope.parse(df)
    assert(parsed.count() == 3)
    val metas = parsed.select("__meta__.timestamp", "__meta__.type")
      .as[(Long, String)].collect().sorted
    assert(metas.toSeq == Seq((100L, "upsert"), (100L, "upsert"), (200L, "delete")))
    // raw record JSON preserved as a string
    val vals = parsed.filter($"__meta__.timestamp" === 200L).select("value").as[String].head()
    assert(vals == """{"id":1,"name":"a"}""")
  }

  test("Envelope.decode applies the in-band schema and keeps extra columns") {
    val df = Seq(env("db1", "t1", 100L, "upsert", """{"id":7,"name":"x"}""")).toDF("value")
    val parsed = Envelope.parse(df).withColumn("_key", lit("k"))
    val typed = Envelope.decode(parsed, payloadSchemaJson)
    assert(typed.columns.toSeq == Seq("id", "name", "_key"))
    assert(typed.as[(Long, String, String)].head() == ((7L, "x", "k")))
  }

  // ---- KeyGen -------------------------------------------------------------

  test("KeyGen composite keys match the reference md5(db_table_k1_k2) shape") {
    val df = Seq(("""{"a":1,"b":"x"}""", "db1", "t1")).toDF("value", "db", "table")
    val got = df.select(
      KeyGen.forTables($"db", $"table", $"value",
        Map(("db1", "t1") -> Seq("a", "b"))).as("k"))
      .as[String].head()
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("db1_t1_1_x".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(got == expected)
  }

  test("KeyGen: missing key fields stay distinct; unconfigured tables key null") {
    val df = Seq(
      ("db1", "t1", """{"a":"x"}"""),            // b missing entirely
      ("db1", "t1", """{"a":"x","b":null}"""),   // b explicit null (same key as missing)
      ("db1", "t1", """{"a":"x","b":"y"}"""),    // b present -> distinct key
      ("db9", "t9", """{"a":"x"}""")             // unconfigured table
    ).toDF("db", "table", "value")
    val keyed = df.withColumn("k",
      KeyGen.forTables(col("db"), col("table"), col("value"),
        Map(("db1", "t1") -> Seq("a", "b"))))
    val ks = keyed.select("k").collect().map(r => Option(r.getString(0)))
    // missing and explicit-null agree (both JSON-extract to null -> "null")
    assert(ks(0) == ks(1))
    // but a real value is a DIFFERENT key — concat_ws must not skip the slot
    assert(ks(0) != ks(2))
    // unconfigured table -> null key, not a shared md5(db_table)
    assert(ks(3).isEmpty)
  }

  test("KeyGen routes different tables to their own key fields") {
    val df = Seq(
      ("""{"a":1,"z":9}""", "db1", "t1"),
      ("""{"c":5}""", "db1", "t2")).toDF("value", "db", "table")
    val keys = df.select(
      KeyGen.forTables($"db", $"table", $"value",
        Map(("db1", "t1") -> Seq("a"), ("db1", "t2") -> Seq("c"))).as("k"))
      .as[String].collect()
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(keys.toSeq == Seq(md5("db1_t1_1"), md5("db1_t2_5")))
  }

  // ---- Dedup --------------------------------------------------------------

  private val sample = Seq(
    ("k1", 1L, "a"), ("k1", 3L, "b"), ("k1", 2L, "c"),
    ("k2", 5L, "d"),
    ("k3", 7L, "e"), ("k3", 7L, "f") // tie on ts -> payload breaks it
  ).toDF("_key", "_ts", "v")

  test("LWW picks max (_ts, tiebreak) per key; agg and window agree") {
    val a = Dedup.lww(sample, "_key", Seq("_ts", "v"))
      .select("_key", "v").as[(String, String)].collect().sortBy(_._1)
    val w = Dedup.lwwWindow(sample, "_key", Seq("_ts", "v"))
      .select("_key", "v").as[(String, String)].collect().sortBy(_._1)
    assert(a.toSeq == Seq(("k1", "b"), ("k2", "d"), ("k3", "f")))
    assert(w.toSeq == a.toSeq)
  }

  test("LWW is idempotent and order-insensitive (property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val rows = (1 to 60).map { i =>
        (s"k${rnd.nextInt(8)}", rnd.nextInt(10).toLong, s"v$i")
      }
      val df = rows.toDF("_key", "_ts", "v")
      val shuffled = rnd.shuffle(rows).toDF("_key", "_ts", "v")
      def run(d: org.apache.spark.sql.DataFrame) =
        Dedup.lww(d, "_key", Seq("_ts", "v"))
          .select("_key", "_ts", "v").as[(String, Long, String)]
          .collect().sortBy(_._1).toSeq
      val once = run(df)
      assert(run(shuffled) == once, "order-insensitive")
      assert(run(Dedup.lww(df, "_key", Seq("_ts", "v"))) == once, "idempotent")
      // oracle: in-memory max by (ts, v)
      val oracle = rows.groupBy(_._1).view.mapValues(_.maxBy(r => (r._2, r._3)))
        .values.toSeq.sortBy(_._1)
      assert(once == oracle)
    }
  }

  test("malformed envelopes: dropped by default, raised in strict mode") {
    val df = Seq(
      env("db1", "t1", 1L, "upsert", """{"id":1,"name":"a"}"""),
      """not json at all""").toDF("value")
    assert(Envelope.parse(df).count() == 1) // quiet drop (reference behavior)
    val e = intercept[Exception](Envelope.parse(df, strict = true).count())
    assert(e.getMessage.contains("malformed CDC envelope") ||
      Option(e.getCause).exists(_.getMessage.contains("malformed CDC envelope")))
  }

  // ---- CdcSource / JSON serialization -------------------------------------

  test("toJsonKeepNulls preserves null fields (WriteMapNullValue semantics)") {
    val df = Seq((1L, null.asInstanceOf[String])).toDF("id", "name")
    val kept = df.select(CdcSource.toJsonKeepNulls(struct($"id", $"name"))).as[String].head()
    assert(kept == """{"id":1,"name":null}""")
    val dropped = df.select(to_json(struct($"id", $"name"))).as[String].head()
    assert(dropped == """{"id":1}""") // default drops nulls - the bug we guard
  }

  test("jsonDirBatch replays an archived raw log as an envelope batch") {
    val dir = tempDir("raw-").toString
    val envs = Seq(env("db1", "t1", 1L, "upsert", """{"id":1,"name":"a"}"""))
    envs.toDF("value").write.mode("overwrite").text(dir)
    val replayed = CdcSource.jsonDirBatch(spark, dir)
    assert(replayed.columns.toSeq == Seq("value"))
    assert(Envelope.parse(replayed).count() == 1)
  }

  test("Envelope.decode honors a custom timestampFormat (F5)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("t", org.apache.spark.sql.types.TimestampType))).json
    val raw = Seq(
      s"""{"databaseName":"d","tableName":"t","schema":${escape(schema)},""" +
        s""""timestamp":1,"type":"upsert","rows":[{"id":1,"t":"2021/01/02 03.04.05"}]}""")
      .toDF("value")
    val typed = Envelope.decode(Envelope.parse(raw), schema, "yyyy/MM/dd HH.mm.ss")
    val got = typed.select($"t".cast("string")).as[String].head()
    assert(got == "2021-01-02 03:04:05")
  }

  // ---- TableConfig --------------------------------------------------------

  test("TableConfig resolves prefix maps, templating, and validates") {
    val opts = Map(
      "db1.t1.recordkey.field" -> "a,b",
      "db1.t1.transformer.sql" -> "SELECT * FROM <SRC>",
      "option.lake.path" -> "/tmp/lake/{db}/ods_{db}_{table}")
    val cfg = TableConfig.resolve(opts, "db1", "t1")
    assert(cfg.recordKeyFields == Seq("a", "b"))
    assert(cfg.path == "/tmp/lake/db1/ods_db1_t1")
    assert(cfg.transformerSql.contains("SELECT * FROM <SRC>"))
    // explicit path beats template
    val cfg2 = TableConfig.resolve(opts + ("db1.t1.path" -> "/x"), "db1", "t1")
    assert(cfg2.path == "/x")
    // missing recordkey -> reference-shaped error
    val e = intercept[IllegalArgumentException](TableConfig.resolve(opts, "db1", "t2"))
    assert(e.getMessage.contains("db1.t2.recordkey.field"))
    // missing path
    val e2 = intercept[IllegalArgumentException](
      TableConfig.resolve(Map("db1.t1.recordkey.field" -> "a"), "db1", "t1"))
    assert(e2.getMessage.contains("option.lake.path"))
    // zorder.fields: exactly two columns, hoodie clustering alias accepted
    val z = TableConfig.resolve(opts + ("db1.t1.zorder.fields" -> "x, y"), "db1", "t1")
    assert(z.zorderFields == Seq("x", "y"))
    val zAlias = TableConfig.resolve(
      opts + ("db1.t1.hoodie.clustering.plan.strategy.sort.columns" -> "u,v"), "db1", "t1")
    assert(zAlias.zorderFields == Seq("u", "v"))
    // too few columns, or one column twice (Spark resolves names
    // case-insensitively): both rejected
    Seq("x", "x, X").foreach { bad =>
      val e3 = intercept[IllegalArgumentException](
        TableConfig.resolve(opts + ("db1.t1.zorder.fields" -> bad), "db1", "t1"))
      assert(e3.getMessage.contains("zorder.fields"), e3.getMessage)
      assert(e3.getMessage.contains("2-4"), e3.getMessage)
    }
    // hoodie.compact.inline.max.delta.commits aliases the MOR fold cadence
    // (its Hudi role), NOT compact.every (ADVICE r11 #4).
    val h = TableConfig.resolve(
      opts + ("db1.t1.hoodie.compact.inline.max.delta.commits" -> "3"), "db1", "t1")
    assert(h.compactDeltas == 3)
    assert(h.compactEvery == 0, "the hoodie key must not drive COW coalescing cadence")

    // merge.mode: short names and Hudi payload classes (the reference's
    // hoodie.datasource.write.payload.class); unknown classes are loud
    assert(TableConfig.resolve(opts, "db1", "t1").mergeMode ==
      graft.lake.LakeTable.OverwriteMode)
    assert(TableConfig.resolve(
      opts + ("db1.t1.merge.mode" -> "partial"), "db1", "t1").mergeMode ==
      graft.lake.LakeTable.PartialMode)
    assert(TableConfig.resolve(
      opts + ("db1.t1.hoodie.datasource.write.payload.class" ->
        "org.apache.hudi.common.model.PartialUpdateAvroPayload"),
      "db1", "t1").mergeMode == graft.lake.LakeTable.PartialMode)
    assert(TableConfig.resolve(
      opts + ("db1.t1.hoodie.datasource.write.payload.class" ->
        "org.apache.hudi.common.model.DefaultHoodieRecordPayload"),
      "db1", "t1").mergeMode == graft.lake.LakeTable.OverwriteMode)
    val e4 = intercept[IllegalArgumentException](TableConfig.resolve(
      opts + ("db1.t1.merge.mode" -> "com.example.MysteryPayload"), "db1", "t1"))
    assert(e4.getMessage.contains("merge.mode"))
  }

  test("TableConfig accepts the reference's exact README option names") {
    // README.md:47-58 shape: per-table hoodie.* keys + option.hoodie.path.
    val opts = Map(
      "option.hoodie.path" -> "/hudi/tmp/{db}/ods_{db}_{table}",
      "db_issue_clear.person.hoodie.base.path" -> "/hudi/tmp/db_issue_clear/ods_db_issue_clear_person",
      "db_issue_clear.person.hoodie.table.name" -> "ods_db_issue_clear_person",
      "db_issue_clear.person.hoodie.datasource.write.recordkey.field" -> "id",
      "db_issue_clear.person.hoodie.datasource.write.precombine.field" -> "id",
      "db_issue_clear.person.hoodie.datasource.write.keygenerator.class" ->
        "org.apache.hudi.keygen.NonpartitionedKeyGenerator",
      "hoodie.transformer.sql" -> "SELECT * FROM <SRC>")
    val cfg = TableConfig.resolve(opts, "db_issue_clear", "person")
    assert(cfg.recordKeyFields == Seq("id"))
    assert(cfg.path == "/hudi/tmp/db_issue_clear/ods_db_issue_clear_person")
    assert(cfg.tiebreakField.contains("id"))
    assert(cfg.transformerSql.contains("SELECT * FROM <SRC>"))
    // unanticipated per-table knobs flow through to extras (passthrough)
    assert(cfg.extras("hoodie.table.name") == "ods_db_issue_clear_person")
    // keygenerator.class is INTERPRETED (validated declaration), not extras
    assert(!cfg.extras.contains("hoodie.datasource.write.keygenerator.class"))
    assert(!cfg.extras.contains("hoodie.base.path"), "recognized aliases are not extras")
    // option.hoodie.path templating kicks in without the explicit base path
    val cfg2 = TableConfig.resolve(
      opts - "db_issue_clear.person.hoodie.base.path", "db_issue_clear", "person")
    assert(cfg2.path == "/hudi/tmp/db_issue_clear/ods_db_issue_clear_person")
    // native names win over reference aliases when both are present
    val cfg3 = TableConfig.resolve(
      opts ++ Map(
        "db_issue_clear.person.recordkey.field" -> "code",
        "db_issue_clear.person.transformer.sql" -> "SELECT 1 FROM <SRC>"),
      "db_issue_clear", "person")
    assert(cfg3.recordKeyFields == Seq("code"))
    assert(cfg3.transformerSql.contains("SELECT 1 FROM <SRC>"))
  }

  // ---- Transformer --------------------------------------------------------

  test("Transformer substitutes <SRC> and drops its temp view") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "name")
    val out = Transformer.transform(df, "SELECT id * 2 AS id2 FROM <SRC> WHERE id > 1")
    assert(out.as[Long].collect().toSeq == Seq(4L))
    assert(!spark.catalog.listTables().collect()
      .exists(_.name.startsWith("GRAFT_SRC_TMP_TABLE_")))
  }
}
