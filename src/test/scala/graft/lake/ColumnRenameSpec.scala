package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Column rename/drop via the manifest name-mapping (r20): files always
  * store a column's BIRTH (physical) name; the manifest schema is
  * logical, `renames` maps between them, and `retired` guards re-added
  * names against data resurrection.
  */
class ColumnRenameSpec extends SparkSpec {
  import spark.implicits._

  private def msgs(x: Throwable): String =
    Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
      .map(c => Option(c.getMessage).getOrElse("")).mkString(" | ")

  test("rename round-trip: old + new files read under the new name; time travel keeps the old") {
    val dir = tempDir("ren-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")) // v1
    lt.renameColumn("amount", "total") // v2
    // old files answer under the NEW name
    assert(lt.snapshot.columns.toSeq === Seq(LakeTable.KeyCol, LakeTable.TsCol, "total"))
    assert(lt.snapshot.select("_key", "total").as[(String, Long)]
      .collect().sortBy(_._1).toSeq === Seq(("a", 10L), ("b", 20L)))
    // writes AFTER the rename use the new logical name; the stored file
    // keeps the birth name, so old+new files still union under one schema
    lt.upsert(Seq(("c", 2L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "total")) // v3
    assert(lt.snapshot.select("_key", "total").as[(String, Long)]
      .collect().sortBy(_._1).toSeq === Seq(("a", 10L), ("b", 20L), ("c", 30L)))
    // time travel BEFORE the rename answers under the OLD name
    assert(lt.snapshotAt(1L).columns.contains("amount"))
    assert(lt.snapshotAt(1L).select("amount").as[Long].collect().sorted
      === Seq(10L, 20L))
    // a pure rename is manifest-only: the change feed between the
    // surrounding versions sees NO bucket dir change and emits nothing
    assert(lt.changesBetween(1L, 2L).count() === 0,
      "a rename commit must not appear as row changes")
    // rename back to the birth name drops the mapping entirely
    lt.renameColumn("total", "amount")
    assert(lt.latestManifest().get.renames.isEmpty)
    assert(lt.snapshot.select("amount").as[Long].collect().sorted
      === Seq(10L, 20L, 30L))
  }

  test("rename/drop resolve the SOURCE case-insensitively (r21, ADVICE r20)") {
    val dir = tempDir("renci-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L, 5L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "qty"))
    lt.renameColumn("AMOUNT", "total") // case-variant source resolves
    assert(lt.snapshot.columns.contains("total"))
    lt.dropColumn("QTY")
    assert(!lt.snapshot.columns.contains("qty"))
    // reserved names stay guarded whatever the case
    val e = intercept[IllegalArgumentException](lt.dropColumn("_KEY"))
    assert(e.getMessage.contains("reserved"))
  }

  test("rename + re-add of the old name keeps writing (positional write-side rename, r21)") {
    // ADVICE r20 #1: the write-side logical->physical rename was a
    // sequential withColumnRenamed fold — after rename(price->amount) and
    // re-adding a column named price (fresh physical), map order could
    // apply amount->price while a live price column existed, duplicating
    // the name and bricking every later write.
    val dir = tempDir("renre-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "price"))
    lt.renameColumn("price", "amount")
    lt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "price", org.apache.spark.sql.types.LongType))))
    // renames now map amount -> price (birth) AND price -> price#N: the
    // order-sensitive fold broke exactly here
    lt.upsert(Seq(("b", 2L, 20L, 200L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "price"))
    lt.upsert(Seq(("c", 3L, 30L, 300L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "price"))
    val rows = lt.snapshot
      .select(col(LakeTable.KeyCol), col("amount"), col("price"))
      .as[(String, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(rows === Seq(("a", 10L, None), ("b", 20L, Some(200L)), ("c", 30L, Some(300L))))
  }

  test("loud conflicts: unknown, existing (case-insensitive), reserved, partial tables") {
    val dir = tempDir("renx-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L, "x"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "tag"))
    intercept[IllegalArgumentException](lt.renameColumn("nope", "x"))
    val e = intercept[IllegalArgumentException](lt.renameColumn("amount", "TAG"))
    assert(msgs(e).contains("already exists"), msgs(e))
    intercept[IllegalArgumentException](lt.renameColumn(LakeTable.KeyCol, "k2"))
    intercept[IllegalArgumentException](lt.renameColumn("amount", LakeTable.TsCol))
    intercept[IllegalArgumentException](lt.dropColumn(LakeTable.TsCol))
    // partial tables: per-column-time maps key the old name — loud
    val pdir = tempDir("renp-").resolve("t").toString
    val plt = new LakeTable(spark, pdir, numBuckets = 2,
      mergeMode = LakeTable.PartialMode)
    plt.upsert(Seq(("a", 1L, 10L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    val ep = intercept[IllegalArgumentException](plt.renameColumn("amount", "total"))
    assert(msgs(ep).contains("partial"), msgs(ep))
    intercept[IllegalArgumentException](plt.dropColumn("amount"))
  }

  test("drop + re-add: old data never resurrects; history keeps it") {
    val dir = tempDir("drop-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L, "keep1"), ("b", 1L, 20L, "keep2"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note")) // v1
    lt.dropColumn("amount") // v2
    assert(lt.snapshot.columns.toSeq === Seq(LakeTable.KeyCol, LakeTable.TsCol, "note"))
    // time travel before the drop still reads the column
    assert(lt.snapshotAt(1L).select("amount").as[Long].collect().sorted
      === Seq(10L, 20L))
    // re-add the same logical name (manifest-only): OLD file bytes for
    // the retired physical must NOT resurrect — rows read null
    lt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "amount", org.apache.spark.sql.types.LongType)))) // v3
    assert(lt.latestManifest().get.renames.get("amount").exists(_ != "amount"),
      "re-added column must map to a fresh physical name")
    val vals = lt.snapshot.select("amount").collect().map(r => r.isNullAt(0))
    assert(vals.length == 2 && vals.forall(identity),
      "re-added column must read NULL for pre-drop rows")
    // and a write-borne re-add works: new values land under the fresh
    // physical name while old rows stay null
    lt.upsert(Seq(("c", 2L, 77L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    assert(lt.snapshot.select("_key", "amount").as[(String, Option[Long])]
      .collect().sortBy(_._1).toSeq
      === Seq(("a", None), ("b", None), ("c", Some(77L))))
  }

  test("version diffs match columns by physical name across a rename") {
    val dir = tempDir("rendiff-").resolve("t").toString
    // one bucket: the v3 upsert rewrites the bucket holding a and b
    val lt = new LakeTable(spark, dir, numBuckets = 1)
    lt.upsert(Seq(("a", 1L, 10L), ("b", 1L, 20L))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount")) // v1
    lt.renameColumn("amount", "total") // v2
    lt.upsert(Seq(("c", 2L, 30L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "total")) // v3
    assert(lt.changesBetween(1L, 3L).select("_change_type", LakeTable.KeyCol)
      .as[(String, String)].collect().toSeq === Seq(("insert", "c")))
    assert(lt.incrementalBetween(1L, 3L).select(LakeTable.KeyCol)
      .as[String].collect().toSeq === Seq("c"))
  }

  test("version diffs read a dropped-then-re-added column as null on the before side") {
    val dir = tempDir("dropdiff-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 1)
    lt.upsert(Seq(("a", 1L, 10L, "n1"), ("b", 1L, 20L, "n2"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note")) // v1
    lt.dropColumn("amount") // v2
    lt.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "amount", org.apache.spark.sql.types.LongType)))) // v3
    lt.upsert(Seq(("c", 2L, 77L, "n3"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note")) // v4
    // a and b read amount = null at v4; the re-added column is a new
    // physical column, so v1's amount is not its before image
    assert(lt.changesBetween(1L, 4L).select("_change_type", LakeTable.KeyCol)
      .as[(String, String)].collect().toSeq === Seq(("insert", "c")))
    assert(lt.incrementalBetween(1L, 4L).select(LakeTable.KeyCol)
      .as[String].collect().toSeq === Seq("c"))
  }

  test("stats pruning SURVIVES a rename (sidecars are keyed physical)") {
    val dir = tempDir("renstats-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 4,
      statsColumns = Seq("amount"))
    lt.upsert((1 to 200).map(i => (s"k$i", 1L, i.toLong))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount"))
    lt.renameColumn("amount", "total")
    val m = lt.latestManifest().get
    // filters on the NEW logical name must still prune via the sidecars
    // recorded under the (unchanged) physical name
    val kept = lt.statsPrunedBuckets(m, Seq(
      org.apache.spark.sql.sources.GreaterThan("total", 10000L)))
    assert(kept.isEmpty, s"expected full prune, kept $kept")
    val keptSome = lt.statsPrunedBuckets(m, Seq(
      org.apache.spark.sql.sources.GreaterThan("total", 0L)))
    assert(keptSome === m.allBuckets)
    // and a post-rename write records sidecars that keep pruning too
    lt.upsert(Seq(("k9999", 2L, 500L)).toDF(LakeTable.KeyCol, LakeTable.TsCol, "total"))
    val m2 = lt.latestManifest().get
    assert(lt.statsPrunedBuckets(m2, Seq(
      org.apache.spark.sql.sources.GreaterThan("total", 10000L))).isEmpty)
  }

  test("SQL: ALTER TABLE RENAME COLUMN / DROP COLUMN route to the manifest commits") {
    val dir = tempDir("rensql-").resolve("t").toString
    val lt = new LakeTable(spark, dir, numBuckets = 2)
    lt.upsert(Seq(("a", 1L, 10L, "n1")).toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "note"))
    spark.sql(s"CREATE TABLE ren_sql USING `cdc-lake` OPTIONS (path '$dir', buckets '2')")
    try {
      spark.sql("ALTER TABLE ren_sql RENAME COLUMN amount TO total")
      // the catalog re-registered and the next statement sees the rename
      assert(spark.sql("SELECT total FROM ren_sql").as[Long].collect().toSeq === Seq(10L))
      spark.sql("ALTER TABLE ren_sql DROP COLUMN note")
      assert(spark.sql("SELECT * FROM ren_sql").columns.toSeq
        === Seq(LakeTable.KeyCol, LakeTable.TsCol, "total"))
      // IF EXISTS skips unknown names; without it they are loud
      spark.sql("ALTER TABLE ren_sql DROP COLUMN IF EXISTS ghost")
      val e = intercept[Exception](spark.sql("ALTER TABLE ren_sql DROP COLUMN ghost"))
      assert(msgs(e).contains("ghost"), msgs(e))
      // SQL writes after the rename use the new name end-to-end
      spark.sql("INSERT INTO ren_sql VALUES ('b', CAST(2 AS BIGINT), CAST(30 AS BIGINT))")
      assert(spark.sql("SELECT _key, total FROM ren_sql ORDER BY _key")
        .as[(String, Long)].collect().toSeq === Seq(("a", 10L), ("b", 30L)))
    } finally spark.sql("DROP TABLE ren_sql")
    // non-lake targets keep Spark's own v2-only error
    spark.sql("CREATE TABLE ren_plain (x INT) USING parquet")
    try {
      val e2 = intercept[Exception](
        spark.sql("ALTER TABLE ren_plain RENAME COLUMN x TO y"))
      assert(msgs(e2).toLowerCase.contains("rename column"), msgs(e2))
    } finally spark.sql("DROP TABLE ren_plain")
  }

  test("partitioned tables rename/drop across partitions; partition columns are guarded") {
    val dir = tempDir("renpart-").resolve("t").toString
    val pt = new PartitionedLakeTable(spark, dir, "region", numBuckets = 2)
    pt.upsert(Seq(("a", 1L, 10L, "eu"), ("b", 1L, 20L, "us"))
      .toDF(LakeTable.KeyCol, LakeTable.TsCol, "amount", "region"))
    pt.renameColumn("amount", "total")
    assert(pt.snapshot.select("_key", "total", "region").as[(String, Long, String)]
      .collect().sortBy(_._1).toSeq === Seq(("a", 10L, "eu"), ("b", 20L, "us")))
    intercept[IllegalArgumentException](pt.renameColumn("region", "zone"))
    intercept[IllegalArgumentException](pt.renameColumn("total", "REGION"))
    intercept[IllegalArgumentException](pt.dropColumn("region"))
    pt.dropColumn("total")
    assert(pt.snapshot.columns.toSeq.sorted === Seq(LakeTable.KeyCol, LakeTable.TsCol, "region").sorted)
  }
}
