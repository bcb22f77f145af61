package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.cdc.CdcSyncCommand
import graft.lake.LakeTable

/** Driver-visible exercises of the engine's lake + CDC components over the
  * TESTDATA tables (so the DuckDB oracle can replay them in SQL).
  *
  * The `events` table acts as the change stream: key = `user_id`,
  * version = `ts` (BIGINT epoch-nanos on the Spark side, µs TIMESTAMP in
  * DuckDB — ordering-only, orderings agree; see [[graft.Tables]]).
  * The DuckDB oracle for a CDC merge is the q08 LWW window shape.
  */
object LakeQueries {

  /** Fresh table dir per invocation (results are deterministic; the dir
    * is throwaway scratch, never an input) — see [[Scratch]] for the
    * shared-root + exit-time-cleanup contract.
    */
  private def scratchDir(tag: String): String = Scratch.dir(tag)

  private val lwwOracle =
    """SELECT user_id, event_id, event_type, value
      |FROM (SELECT user_id, event_id, event_type, value,
      |      row_number() OVER (PARTITION BY user_id
      |                         ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn = 1""".stripMargin

  /** events keyed for the lake: `_key` = md5(db_table_userid) (the engine's
    * P3 keygen shape), `_ts` = event ts.
    */
  private def keyedEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.load(spark, dir, "events").select(
      md5(concat_ws("_", lit("graft"), lit("events"), col("user_id"))).as(LakeTable.KeyCol),
      col("ts").as(LakeTable.TsCol),
      col("user_id"), col("event_id"), col("event_type"), col("value"))

  private def finalState(lake: LakeTable): DataFrame =
    lake.snapshot.select("user_id", "event_id", "event_type", "value").orderBy("user_id")

  // ---- q23: COW upsert merge (S6/J3/A1/A2) -------------------------------

  // Bench-path tables never call lookup(), so they skip the optional bloom
  // sidecars (2 extra jobs per commit); the bloom build stays exercised by
  // q25's customer table and LakeTableSpec.
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false)
    val ev = keyedEvents(spark, dir)
    // two out-of-order batches; cross-batch LWW must equal global LWW
    lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1:upsert")
    lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b2:upsert")
    finalState(lake)
  }

  // ---- q24: delete routing (S7/J2) ---------------------------------------

  private def q24(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false)
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev, commitId = "b1:upsert")
    lake.delete(
      ev.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
      commitId = "b2:delete")
    finalState(lake)
  }

  // ---- q79: time travel via the versionAsOf batch-read option ------------

  /** Three commits (upsert evens → delete `%10` users → upsert odds), then
    * the Spark-idiomatic time-travel read
    * `spark.read.format("cdc-lake").option("versionAsOf", 2)` — the state
    * BETWEEN the delete and the second upsert. The oracle recomputes that
    * intermediate state (LWW over even event_ids minus the deleted users),
    * so it can only match if the pinned historical manifest — not latest —
    * is what the relation actually reads.
    */
  private def q79(spark: SparkSession, dir: String): DataFrame = {
    val path = scratchDir("lake")
    val lake = new LakeTable(spark, path, numBuckets = 16, bloomOnWrite = false)
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1:upsert")
    lake.delete(
      ev.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
      commitId = "b2:delete")
    lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b3:upsert")
    spark.read.format("cdc-lake")
      .option("path", path).option("buckets", "16")
      .option("versionAsOf", "2")
      .load()
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  // ---- q80: row-level change feed between versions (CDC read) ------------

  /** Same three commits as q79 reordered (upsert evens → upsert odds →
    * delete `%10` users), then `changesBetween(1, 3)` — the NET row-level
    * diff v1→v3 with tombstones. The oracle derives every change class
    * independently: inserts = odd-only users surviving the delete,
    * updates = users whose global LWW winner differs from their even-only
    * winner, deletes = `%10` users that existed at v1 (before-image =
    * their even-only LWW row).
    */
  /** q85: partial-update merge (Hudi PartialUpdateAvroPayload semantics)
    * — every event becomes a COLUMN FRAGMENT (even ids carry event_type,
    * odd ids carry value, null elsewhere), upserted in three commits so
    * the per-column newest-non-null fold is exercised ITERATIVELY.
    * `_ts` = event_id (globally unique → fully deterministic, no
    * tiebreaks). The oracle recomputes each column's winner independently
    * with `max_by` over the parity-restricted event ids.
    */
  private def q85(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(
      spark, scratchDir("partial"), numBuckets = 16,
      bloomOnWrite = false, mergeMode = LakeTable.PartialMode)
    val frags = Tables.load(spark, dir, "events").select(
      md5(concat_ws("_", lit("graft"), lit("events"), col("user_id")))
        .as(LakeTable.KeyCol),
      col("event_id").as(LakeTable.TsCol),
      col("user_id"),
      when(col("event_id") % 2 === 0, col("event_type")).as("event_type"),
      when(col("event_id") % 2 === 1, col("value")).as("value"))
    (0 to 2).foreach(i =>
      lake.upsert(frags.filter(col(LakeTable.TsCol) % 3 === i), commitId = s"b$i"))
    lake.snapshot
      .select(
        col("user_id"), col(LakeTable.TsCol).as("last_event"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  /** q94: the q85 fragment composition on a MERGE-ON-READ table — the
    * three commits land as base + two DELTA commits (compactAfter high:
    * no fold), so the snapshot exercises the read-side per-column stack
    * collapse (`LakeTable.partialCollapse` over the delta stack) instead
    * of the write-time fold. Shares q85's oracle verbatim: the per-column
    * winners are a property of the fragment SET, independent of which
    * side of the read/write boundary composes them — exactly the
    * associativity the `_pts` map buys.
    */
  private def q94(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(
      spark, scratchDir("partialmor"), numBuckets = 16,
      bloomOnWrite = false, mergeMode = LakeTable.PartialMode,
      tableType = LakeTable.MorType, compactAfter = 10)
    val frags = Tables.load(spark, dir, "events").select(
      md5(concat_ws("_", lit("graft"), lit("events"), col("user_id")))
        .as(LakeTable.KeyCol),
      col("event_id").as(LakeTable.TsCol),
      col("user_id"),
      when(col("event_id") % 2 === 0, col("event_type")).as("event_type"),
      when(col("event_id") % 2 === 1, col("value")).as("value"))
    (0 to 2).foreach(i =>
      lake.upsert(frags.filter(col(LakeTable.TsCol) % 3 === i), commitId = s"b$i"))
    lake.snapshot
      .select(
        col("user_id"), col(LakeTable.TsCol).as("last_event"),
        col("event_type"), col("value"))
      .orderBy("user_id")
  }

  private def q80(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false)
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1:upsert")
    lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b2:upsert")
    lake.delete(
      ev.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
      commitId = "b3:delete")
    lake.changesBetween(1L, 3L)
      .select("_change_type", "user_id", "event_id", "event_type", "value")
      .orderBy("user_id", "_change_type")
  }

  // ---- q25: full CDC pipeline end-to-end (P1-P8, A1-A3, S6/S7) -----------

  private def jsonQuote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Staged envelope fixture, deterministic per testdata identity (source
    * sizes + mtimes): the synthetic-envelope construction (a collect_list
    * agg + 4-way concat) is FIXTURE cost, not engine cost — built once
    * under tmp and reused across runs (VERDICT r8 #2/#3; same pattern as
    * OpsQueries' stored indexes), so Bench's timed q25 measures the CDC
    * engine. A regenerated corpus re-stamps the path and rebuilds.
    */
  private def stagedEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    val stamp = Seq("events.parquet", "customer.parquet").map { f =>
      val p = java.nio.file.Paths.get(dir, f)
      if (java.nio.file.Files.exists(p))
        s"${java.nio.file.Files.size(p)}-${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      else "absent"
    }.mkString("|")
    // `cdcenv2`: tag bumped when Tables.load gained the events.ts
    // nanos-normalization (2026-08-13 regen shipped µs timestamps; a
    // fixture built before the fix serialized `"timestamp":2026-01-01
    // 00:00:00` — malformed JSON — and would otherwise stay stamped).
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|$stamp|cdcenv2".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_fixture_cdcenv_$key"
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))) {
      System.err.println(s"[graft] building q25 envelope fixture at $path")
      buildEnvelopes(spark, dir).write.mode("overwrite").parquet(path)
    }
    spark.read.parquet(path)
  }

  private def buildEnvelopes(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.load(spark, dir, "events")
    val customer = Tables.load(spark, dir, "customer")

    // events -> one envelope per event, rows as RAW JSON objects (the
    // reference's envelope shape); event_type 'error' acts as a delete op.
    val evSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType))).json
    val evRow = to_json(struct(col("event_id"), col("user_id"), col("event_type"), col("value")))
    val evEnvelopes = events.select(concat(
      lit("""{"databaseName":"graft","tableName":"events","schema":"""),
      lit(jsonQuote(evSchema)),
      lit(""","timestamp":"""), col("ts").cast("string"),
      lit(""","type":""""),
      when(col("event_type") === "error", "delete").otherwise("upsert"),
      lit("""","rows":["""), evRow, lit("]}")).as("value"))

    // customer -> multi-row envelopes (exercises explode + multi-table
    // routing in the same batch); all inserts, unique keys.
    val custSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_name", org.apache.spark.sql.types.StringType))).json
    val custRow = to_json(struct(col("c_custkey"), col("c_name")))
    val custEnvelopes = customer
      .groupBy(pmod(col("c_custkey"), lit(15)).as("g"))
      .agg(concat_ws(",", collect_list(custRow)).as("rows"))
      .select(concat(
        lit("""{"databaseName":"graft","tableName":"customer","schema":"""),
        lit(jsonQuote(custSchema)),
        lit(""","timestamp":1,"type":"upsert","rows":["""),
        col("rows"), lit("]}")).as("value"))

    evEnvelopes.unionByName(custEnvelopes)
  }

  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchDir("cdc")
    CdcSyncCommand.run(
      stagedEnvelopes(spark, dir),
      Map(
        "option.lake.path" -> s"$root/{db}/ods_{db}_{table}",
        // single-file source -> spread envelope parse/keygen across cores
        CdcSyncCommand.SourceParallelismKey ->
          spark.sparkContext.defaultParallelism.toString,
        "graft.events.recordkey.field" -> "user_id",
        "graft.customer.recordkey.field" -> "c_custkey",
        "graft.events.buckets" -> "16",
        "graft.customer.buckets" -> "8",
        // events: no lookup() consumer -> skip bloom sidecars; customer
        // keeps them so the distributed bloom build runs in this pipeline.
        "graft.events.bloom.enable" -> "false",
        // equal-_ts ties (if the data ever grows them) break numerically on
        // event_id, matching the oracle's `ORDER BY ts DESC, event_id DESC`.
        "graft.events.dedup.tiebreak.field" -> "event_id"),
      batchId = 1L)

    finalState(new LakeTable(spark, s"$root/graft/ods_graft_events", 16))
  }

  // ---- q70: merge-on-read delta buckets end-to-end -----------------------

  /** MOR write path under the DuckDB oracle (docs/MOR_DESIGN.md): a base
    * commit plus TWO stacked delta commits — the second a combined
    * upsert+delete — read back through the merge-on-read path with the
    * stacks still live (`compactAfter` above the stack depth, so nothing
    * folded: the read-side LWW/tombstone collapse itself is what's being
    * oracle-checked, against the same SQL as the COW delete query q24).
    * Write cost here is O(batch) per delta commit — no bucket reads at
    * all — the headline property LakeMorSpec's equivalence suite pins
    * structurally.
    */
  private def q70(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(
      spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false,
      tableType = LakeTable.MorType, compactAfter = 8)
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev.filter(col("event_id") % 3 === 0), commitId = "b1") // base
    lake.upsert(ev.filter(col("event_id") % 3 === 1), commitId = "b2") // delta
    lake.merge( // delta: upserts + tombstones in one commit
      ev.filter(col("event_id") % 3 === 2),
      ev.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
      commitId = "b3")
    finalState(lake)
  }

  // ---- q77: MOR table consumed as a STREAM (delta → batch → fold → batch) -

  /** The r11 verdict's missing integration gate: q47 prices COW
    * incremental and LakeStreamSourceSpec pins the mechanics, but no
    * oracle priced MOR changed-bucket detection (`incrementalBetween`'s
    * delta-stack comparison) through `readStream.format("cdc-lake")`
    * end-to-end. Build: base upsert → delta upsert → delta merge with
    * tombstones → fold-triggering upsert (`compactAfter = 2`), then
    * drain the table with `Trigger.AvailableNow` at ONE committed
    * version per micro-batch and reconstruct the final state from the
    * staged feed (last emission per key wins — within a batch a key
    * appears at most once, merged). The fold batch must re-emit nothing
    * stale and the delta batches must carry merged rows, or the
    * reconstruction diverges from the LWW oracle.
    *
    * Deletes emit no rows (the Hudi COW incremental contract), so the
    * tombstone set is chosen ⊆ the keys the fold batch re-upserts
    * (`user_id % 10 = 0` AND the user has an `event_id % 4 = 3` event):
    * every tombstoned key's post-delete state is re-emitted in the last
    * batch, which makes the reconstruction SQL-expressible — a
    * tombstoned key's final state is the LWW over ONLY the fold batch's
    * rows (the v3 tombstone killed everything earlier), the rest is
    * plain corpus LWW.
    */
  private def q77(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val root = scratchDir("morstream")
    val lakeDir = s"$root/t"
    val lake = new LakeTable(
      spark, lakeDir, numBuckets = 16, bloomOnWrite = false,
      tableType = LakeTable.MorType, compactAfter = 2)
    val ev = keyedEvents(spark, dir)
    val b4 = ev.filter(col("event_id") % 4 === 3)
    lake.upsert(ev.filter(col("event_id") % 4 === 0), commitId = "b1") // v1 base
    lake.upsert(ev.filter(col("event_id") % 4 === 1), commitId = "b2") // v2 delta
    lake.merge( // v3 delta: upserts + tombstones (all re-inserted by b4)
      ev.filter(col("event_id") % 4 === 2),
      b4.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
      commitId = "b3")
    lake.upsert(b4, commitId = "b4") // v4: stacks at compactAfter → FOLD

    val stage = s"$root/stage"
    val q = spark.readStream.format("cdc-lake")
      .option("path", lakeDir).option("buckets", "16")
      .option("maxVersionsPerBatch", "1").load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.withColumn("_batch", lit(id))
          .write.mode("append").parquet(stage)
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    // The reconstruction below would also match the oracle if the drain
    // collapsed every version into one snapshot batch — pin the actual
    // per-version micro-batching (4 commits → 4 batches) so the oracle
    // prices the version-ranged path, not just the final state.
    val nBatches = spark.read.parquet(stage).select("_batch").distinct().count()
    require(nBatches == 4,
      s"expected 4 micro-batches (one per committed version), got $nBatches")
    spark.read.parquet(stage)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(LakeTable.KeyCol)).orderBy(col("_batch").desc)))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  // ---- q42: partitioned lake table + pruned read -------------------------

  private def q42(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val plt = new graft.lake.PartitionedLakeTable(
      spark, scratchDir("plake"), "o_orderpriority", numBuckets = 8, bloomOnWrite = false)
    plt.upsert(
      orders.select(
        md5(concat_ws("_", lit("graft"), lit("orders"), col("o_orderkey")))
          .as(LakeTable.KeyCol),
        col("o_orderkey").as(LakeTable.TsCol), // unique: no LWW conflicts
        col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
      commitId = "b1")
    // pruned read: only the 1-URGENT partition's files are opened
    plt.snapshot(Seq("1-URGENT"))
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")
  }

  // ---- q44: bulk-insert fast path + post-load merge ----------------------

  /** Initial load through [[LakeTable.bulkInsert]] (no LWW merge agg — the
    * ref insert/bulk_insert path), then an upsert delta on top: the final
    * state must equal plain SQL over the source, proving the fast path
    * leaves the table in a merge-correct layout.
    */
  private def q44(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.load(spark, dir, "orders")
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false)
    val keyed = orders.select(
      md5(concat_ws("_", lit("graft"), lit("orders"), col("o_orderkey")))
        .as(LakeTable.KeyCol),
      lit(1L).as(LakeTable.TsCol),
      col("o_orderkey"), col("o_totalprice"))
    lake.bulkInsert(keyed, commitId = "load")
    // delta: double the price of every 100th order (x2 is exact in IEEE)
    lake.upsert(
      keyed.filter(col("o_orderkey") % 100 === 0)
        .withColumn(LakeTable.TsCol, lit(2L))
        .withColumn("o_totalprice", col("o_totalprice") * 2),
      commitId = "delta")
    lake.snapshot.select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
  }

  // ---- q47: incremental read (change capture since a version) ------------

  /** Two-batch build, then `incremental(1)`: exactly the rows whose
    * visible content changed after version 1 — and only rewritten
    * buckets are scanned on either side. Oracle = the (user_id, ts) diff
    * of the final LWW state against the batch-1-only LWW state. That
    * equals the visible-row diff on this data: no user's batch-2 winner
    * overwrites its batch-1 row at an equal `ts`.
    */
  private def q47(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16, bloomOnWrite = false)
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1") // version 1
    lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b2") // version 2
    lake.incremental(1L)
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  // ---- q48: bloom/bucket-pruned point lookup ------------------------------

  /** `lookup(keys)` for five record keys: bucket pruning + bloom sidecar
    * pruning decide which files open; the result must equal a plain
    * filtered LWW query.
    */
  private def q48(spark: SparkSession, dir: String): DataFrame = {
    val lake = new LakeTable(spark, scratchDir("lake"), numBuckets = 16) // blooms ON
    lake.upsert(keyedEvents(spark, dir), commitId = "b1")
    val md = java.security.MessageDigest.getInstance("MD5")
    val keys = Seq(1L, 2L, 3L, 4L, 5L).map { uid =>
      md.reset()
      md.digest(s"graft_events_$uid".getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    lake.lookup(keys)
      .select("user_id", "event_id", "event_type", "value").orderBy("user_id")
  }

  // ---- q89: streaming dedup across real micro-batches (VERDICT r12 #4) ---

  /** [[graft.streaming.EventTimeOps.dedupeStream]] under an oracle, driven
    * through REAL micro-batches: wave 1 = every event, wave 2 = planted
    * re-deliveries (same event_id, deliberately ALTERED value — a leak
    * would surface as a wrong row, not a dup count) plus genuinely new
    * events. Each wave is one lake commit; the cdc-lake incremental source
    * replays them one version per micro-batch, so the dedup state must
    * carry ACROSS batches (first-delivery-wins) — exactly what
    * `dropDuplicatesWithinWatermark` + full-span retention guarantees.
    * Oracle = DuckDB first-delivery-wins row_number over the same waves.
    */
  private def q89(spark: SparkSession, dir: String): DataFrame = {
    val root = scratchDir("sdedup")
    val lakeDir = s"$root/t"
    val lake = new LakeTable(spark, lakeDir, numBuckets = 16, bloomOnWrite = false)
    val ev = Tables.load(spark, dir, "events")
      .select(col("event_id").cast("long").as("event_id"),
        col("ts"), col("user_id"), col("value"))
    def wave(tag: String, n: Long)(rows: DataFrame): DataFrame = rows.select(
      concat(lit(tag), col("event_id")).as(LakeTable.KeyCol),
      lit(n).as(LakeTable.TsCol),
      col("event_id"), col("ts"), col("user_id"), col("value"),
      lit(n).as("delivery"))
    lake.bulkInsert(wave("d1#", 1L)(ev), commitId = "w1")
    lake.bulkInsert(
      wave("d2#", 2L)(
        ev.filter(col("event_id") % 7 === 0)
          .withColumn("value", col("value") + 1000))
        .unionByName(wave("d2n#", 2L)(
          ev.filter(col("event_id") % 11 === 0)
            .withColumn("event_id", col("event_id") + lit(1000000000L)))),
      commitId = "w2")

    val stage = s"$root/stage"
    val src = spark.readStream.format("cdc-lake")
      .option("path", lakeDir).option("buckets", "16")
      .option("maxVersionsPerBatch", "1").load()
      .withColumn("ets", timestamp_micros(expr("ts DIV 1000")))
    // Retention spans the whole 30-day corpus: every wave-2 re-delivery
    // (same event time as its original) lands inside the watermark, so
    // dedup is EXACT here; bounded-state eviction is EventTimeOpsSpec's.
    val deduped = graft.streaming.EventTimeOps.dedupeStream(
      src, Seq("event_id"), "ets", "90 days")
    val q = deduped.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.withColumn("_batch", lit(id)).write.mode("append").parquet(stage)
        ()
      }
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val staged = spark.read.parquet(stage)
    // Pin the cross-batch mechanics: one micro-batch per wave — a drain
    // that collapsed both waves into one batch would dedup WITHIN a batch
    // and prove nothing about carried state.
    val nBatches = staged.select("_batch").distinct().count()
    require(nBatches == 2, s"expected 2 micro-batches (one per wave), got $nBatches")
    staged.select(col("event_id"), col("user_id"), col("value"),
        col("delivery").cast("long").as("delivery"))
      .orderBy("event_id")
  }

  // ---- q91: manifest column stats through the relation (r13) -------------

  /** Two halves, one query (the q84 internal-gate pattern). Effectiveness:
    * an engineered table whose stat column correlates with its key-hash
    * bucket BY CONSTRUCTION (the only layout bucket-level stats can
    * prune — the operator's documented caveat) must open ONLY the
    * qualifying buckets' dirs for a pushed range predicate — the require
    * fails the query if stats pruning regresses. Correctness: the SAME
    * statsColumns-enabled read path over the real events LWW state with a
    * range filter (uncorrelated values ⇒ the no-prune branch), oracled
    * against DuckDB — so both branches of the stats read are exercised,
    * one gated, one hash-matched.
    */
  private def q91(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val nb = 8
    val engPath = scratchDir("statlake")
    val eng = new LakeTable(spark, engPath, numBuckets = nb,
      bloomOnWrite = false, statsColumns = Seq("bamt"))
    import spark.implicits._
    val rows = (0 until 400).map { i =>
      val k = s"k$i"
      (k, 1L, LakeTable.bucketOfKey(k, nb) * 100L)
    }
    eng.upsert(rows.toDF(LakeTable.KeyCol, LakeTable.TsCol, "bamt"), commitId = "e1")
    // the OUTER v1 plan is a RowDataSourceScanExec; the bucket dirs show
    // on the relation's INNER scan plan (same probe as PlanShapeSpec)
    val rel = new graft.sources.LakeSnapshotRelation(
      spark.sqlContext, Map("path" -> engPath, "buckets" -> nb.toString))
    val innerPlan = rel.scanPlan(
      Array(LakeTable.KeyCol, "bamt"),
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("bamt", 400L)))
    val opened = innerPlan.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }
      .flatMap(_.relation.location.rootPaths).map(_.toString)
    require(
      opened.nonEmpty && opened.forall(p => (4 until nb).exists(b => p.contains(s"b=$b"))),
      s"stats pruning regressed — scan opened: ${opened.mkString(", ")}")
    // end-to-end through the public reader path
    val pruned = spark.read.format("cdc-lake")
      .option("path", engPath).option("buckets", nb.toString).load()
      .filter(col("bamt") >= 400L)
    require(pruned.count() == rows.count(_._3 >= 400L), "pruned read lost rows")

    val lakePath = scratchDir("lake")
    val lake = new LakeTable(spark, lakePath, numBuckets = 16,
      bloomOnWrite = false, statsColumns = Seq("value"))
    val ev = keyedEvents(spark, dir)
    lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1")
    lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b2")
    spark.read.format("cdc-lake")
      .option("path", lakePath).option("buckets", "16").load()
      .filter(col("value") >= 50.0)
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  val all: Map[String, QueryDef] = Map(

    "q47_lake_incremental" -> QueryDef(
      q47,
      Some(
        """WITH final AS (
          |  SELECT user_id, ts, event_id, event_type, value FROM (
          |    SELECT user_id, ts, event_id, event_type, value,
          |           row_number() OVER (PARTITION BY user_id
          |                              ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events) t WHERE rn = 1),
          |v1 AS (
          |  SELECT user_id, ts FROM (
          |    SELECT user_id, ts,
          |           row_number() OVER (PARTITION BY user_id
          |                              ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events WHERE event_id % 2 = 0) t WHERE rn = 1)
          |SELECT f.user_id, f.event_id, f.event_type, f.value
          |FROM final f LEFT JOIN v1
          |  ON f.user_id = v1.user_id AND f.ts = v1.ts
          |WHERE v1.user_id IS NULL
          |ORDER BY f.user_id""".stripMargin)),

    "q48_lake_lookup" -> QueryDef(
      q48,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |  SELECT user_id, event_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE user_id IN (1, 2, 3, 4, 5)) t
          |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    "q44_lake_bulk_insert" -> QueryDef(
      q44,
      Some(
        """SELECT o_orderkey,
          |  CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice * 2
          |       ELSE o_totalprice END AS o_totalprice
          |FROM orders ORDER BY o_orderkey""".stripMargin)),

    "q42_partition_prune" -> QueryDef(
      q42,
      Some(
        """SELECT o_orderkey, o_orderpriority, o_totalprice
          |FROM orders WHERE o_orderpriority = '1-URGENT'
          |ORDER BY o_orderkey""".stripMargin)),

    "q23_lake_upsert" -> QueryDef(q23, Some(s"$lwwOracle ORDER BY user_id")),
    "q85_lake_partial" -> QueryDef(
      q85,
      Some(
        """SELECT user_id, CAST(max(event_id) AS BIGINT) AS last_event,
          |  max_by(event_type, CASE WHEN event_id % 2 = 0 THEN event_id END)
          |    AS event_type,
          |  max_by(value, CASE WHEN event_id % 2 = 1 THEN event_id END) AS value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q94_lake_mor_partial" -> QueryDef(
      q94,
      Some(
        """SELECT user_id, CAST(max(event_id) AS BIGINT) AS last_event,
          |  max_by(event_type, CASE WHEN event_id % 2 = 0 THEN event_id END)
          |    AS event_type,
          |  max_by(value, CASE WHEN event_id % 2 = 1 THEN event_id END) AS value
          |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q70_lake_mor" -> QueryDef(
      q70,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |SELECT user_id, event_id, event_type, value,
          |       row_number() OVER (PARTITION BY user_id
          |                          ORDER BY ts DESC, event_id DESC) AS rn
          |FROM events) t
          |WHERE rn = 1 AND user_id % 10 <> 0
          |ORDER BY user_id""".stripMargin)),
    "q77_lake_mor_stream" -> QueryDef(
      q77,
      Some(
        """WITH lww_all AS (
          |  SELECT user_id, event_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events),
          |b4 AS (
          |  SELECT user_id, event_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE event_id % 4 = 3),
          |dead AS (SELECT DISTINCT user_id FROM events
          |         WHERE event_id % 4 = 3 AND user_id % 10 = 0)
          |SELECT user_id, event_id, event_type, value FROM lww_all
          |WHERE rn = 1 AND user_id NOT IN (SELECT user_id FROM dead)
          |UNION ALL
          |SELECT user_id, event_id, event_type, value FROM b4
          |WHERE rn = 1 AND user_id % 10 = 0
          |ORDER BY user_id""".stripMargin)),
    "q91_lake_stats_prune" -> QueryDef(
      q91,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |SELECT user_id, event_id, event_type, value,
          |       row_number() OVER (PARTITION BY user_id
          |                          ORDER BY ts DESC, event_id DESC) AS rn
          |FROM events) t
          |WHERE rn = 1 AND value >= 50.0
          |ORDER BY user_id""".stripMargin)),
    "q89_stream_dedup" -> QueryDef(
      q89,
      Some(
        """WITH all_d AS (
          |  SELECT CAST(event_id AS BIGINT) AS event_id, user_id, value,
          |         CAST(1 AS BIGINT) AS delivery
          |  FROM events
          |  UNION ALL
          |  SELECT CAST(event_id AS BIGINT), user_id, value + 1000, CAST(2 AS BIGINT)
          |  FROM events WHERE event_id % 7 = 0
          |  UNION ALL
          |  SELECT CAST(event_id + 1000000000 AS BIGINT), user_id, value, CAST(2 AS BIGINT)
          |  FROM events WHERE event_id % 11 = 0)
          |SELECT event_id, user_id, value, delivery FROM (
          |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY delivery) AS rn
          |  FROM all_d) t
          |WHERE rn = 1
          |ORDER BY event_id""".stripMargin)),
    "q79_lake_time_travel" -> QueryDef(
      q79,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |SELECT user_id, event_id, event_type, value,
          |       row_number() OVER (PARTITION BY user_id
          |                          ORDER BY ts DESC, event_id DESC) AS rn
          |FROM events WHERE event_id % 2 = 0) t
          |WHERE rn = 1 AND user_id % 10 <> 0
          |ORDER BY user_id""".stripMargin)),
    "q80_lake_changes" -> QueryDef(
      q80,
      Some(
        """WITH v1 AS (SELECT user_id, event_id, event_type, value FROM (
          |  SELECT user_id, event_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events WHERE event_id % 2 = 0) t WHERE rn = 1),
          |v3 AS (SELECT user_id, event_id, event_type, value FROM (
          |  SELECT user_id, event_id, event_type, value,
          |         row_number() OVER (PARTITION BY user_id
          |                            ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) t WHERE rn = 1 AND user_id % 10 <> 0)
          |SELECT 'insert' AS _change_type,
          |       v3.user_id, v3.event_id, v3.event_type, v3.value
          |FROM v3 WHERE v3.user_id NOT IN (SELECT user_id FROM v1)
          |UNION ALL
          |SELECT 'update_postimage' AS _change_type,
          |       v3.user_id, v3.event_id, v3.event_type, v3.value
          |FROM v3 JOIN v1 ON v3.user_id = v1.user_id
          |WHERE v3.event_id <> v1.event_id
          |UNION ALL
          |SELECT 'delete' AS _change_type,
          |       v1.user_id, v1.event_id, v1.event_type, v1.value
          |FROM v1 WHERE v1.user_id % 10 = 0
          |ORDER BY user_id, _change_type""".stripMargin)),
    "q24_lake_delete" -> QueryDef(
      q24,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |SELECT user_id, event_id, event_type, value,
          |       row_number() OVER (PARTITION BY user_id
          |                          ORDER BY ts DESC, event_id DESC) AS rn
          |FROM events) t
          |WHERE rn = 1 AND user_id % 10 <> 0
          |ORDER BY user_id""".stripMargin)),
    "q25_cdc_end_to_end" -> QueryDef(
      q25,
      Some(
        """SELECT user_id, event_id, event_type, value FROM (
          |SELECT user_id, event_id, event_type, value,
          |       row_number() OVER (PARTITION BY user_id
          |                          ORDER BY ts DESC, event_id DESC) AS rn
          |FROM events) t
          |WHERE rn = 1 AND event_type <> 'error'
          |ORDER BY user_id""".stripMargin)),

    // ---- SQL MERGE INTO over a catalog-registered lake table (r16) -----
    // The GraftExtensions post-hoc rule (LakeMergeInto) routes the merge
    // through the native ops with SQL-faithful branch membership: seed =
    // orders with key%3==0; source = key%2==0 at a newer _ts with a
    // delete flag on key%4==0. Expected (the oracle derives each class
    // independently): matched & flagged (%12==0) delete; matched &
    // unflagged (%6==0, %4!=0) update; UNMATCHED source rows insert
    // regardless of the flag (the delete condition guards only the
    // MATCHED branch — the r16 review's semantic pin); untouched seed
    // rows (%3==0, %2!=0) carry through. Exercises the probe split, the
    // single-commit merge, and the ON-derived routing end-to-end under
    // the driver's DuckDB gate.
    "q102_lake_sql_merge" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqlmerge")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        val seed = orders.filter(col("o_orderkey") % 3 === 0).select(
          concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("o_orderkey").as("okey"), col("o_totalprice").as("amount"))
        new LakeTable(spark, lakeDir, numBuckets = 4, bloomOnWrite = false)
          .bulkInsert(seed)
        val tbl = s"gq102_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$lakeDir', buckets '4')""".stripMargin)
        try {
          orders.filter(col("o_orderkey") % 2 === 0).select(
            concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
            lit(2L).as(LakeTable.TsCol),
            col("o_orderkey").as("okey"),
            (col("o_totalprice") + lit(10.0)).as("amount"),
            (col("o_orderkey") % 4 === 0).as("del"))
            .createOrReplaceTempView(s"src_$tag")
          spark.sql(
            s"""MERGE INTO $tbl t USING src_$tag s ON t._key = s._key
               |WHEN MATCHED AND s.del THEN DELETE
               |WHEN MATCHED THEN UPDATE SET *
               |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"src_$tag")
        }
        // read the lake PATH directly (the catalog entry is dropped)
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"), col("amount"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount FROM (
          |  SELECT o_orderkey AS okey, CAST(1 AS BIGINT) AS ts,
          |         o_totalprice AS amount
          |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10
          |  FROM orders
          |  WHERE o_orderkey % 6 = 0 AND o_orderkey % 4 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10
          |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
          |) t ORDER BY okey""".stripMargin)),

    // ---- SQL MERGE INTO with conditional branches + per-branch
    // assignments + read-modify-write (r17) --------------------------
    // First-match routing over the probe split: matched rows with
    // delta>=50 ACCUMULATE into the stored amount (two-sided UPDATE
    // value), 10<=delta<50 overwrite it, delta<10 match NO action and
    // carry UNTOUCHED; unmatched rows insert only when delta>=25. Both
    // UPDATE branches assign a PARTIAL column list — `note` and `okey`
    // survive through the read-modify-write join (the ADVICE r16 fix:
    // unassigned columns must never silently null). The oracle derives
    // every class independently in DuckDB.
    "q103_lake_sql_merge_cond" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqlmergec")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        val seed = orders.filter(col("o_orderkey") % 3 === 0).select(
          concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("o_orderkey").as("okey"), col("o_totalprice").as("amount"),
          lit("seed").as("note"))
        new LakeTable(spark, lakeDir, numBuckets = 4, bloomOnWrite = false)
          .bulkInsert(seed)
        val tbl = s"gq103_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$lakeDir', buckets '4')""".stripMargin)
        try {
          orders.filter(col("o_orderkey") % 2 === 0).select(
            concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
            lit(2L).as(LakeTable.TsCol),
            col("o_orderkey").as("okey"),
            (col("o_orderkey") % 100).as("delta"))
            .createOrReplaceTempView(s"src_$tag")
          spark.sql(
            s"""MERGE INTO $tbl t USING src_$tag s ON t._key = s._key
               |WHEN MATCHED AND s.delta >= 50 THEN
               |  UPDATE SET _ts = s._ts, amount = t.amount + s.delta
               |WHEN MATCHED AND s.delta >= 10 THEN
               |  UPDATE SET _ts = s._ts, amount = CAST(s.delta AS DOUBLE)
               |WHEN NOT MATCHED AND s.delta >= 25 THEN
               |  INSERT (_key, _ts, okey, amount, note)
               |  VALUES (s._key, s._ts, s.okey, CAST(s.delta AS DOUBLE), 'new')"""
              .stripMargin)
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"src_$tag")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"), col("amount"), col("note"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount, note FROM (
          |  SELECT o_orderkey AS okey, CAST(2 AS BIGINT) AS ts,
          |         o_totalprice + (o_orderkey % 100) AS amount, 'seed' AS note
          |  FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 100 >= 50
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT),
          |         CAST(o_orderkey % 100 AS DOUBLE), 'seed'
          |  FROM orders
          |  WHERE o_orderkey % 6 = 0
          |    AND o_orderkey % 100 >= 10 AND o_orderkey % 100 < 50
          |  UNION ALL
          |  SELECT o_orderkey, CAST(1 AS BIGINT), o_totalprice, 'seed'
          |  FROM orders WHERE o_orderkey % 6 = 0 AND o_orderkey % 100 < 10
          |  UNION ALL
          |  SELECT o_orderkey, CAST(1 AS BIGINT), o_totalprice, 'seed'
          |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT),
          |         CAST(o_orderkey % 100 AS DOUBLE), 'new'
          |  FROM orders
          |  WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
          |    AND o_orderkey % 100 >= 25
          |) t ORDER BY okey""".stripMargin)),

    // ---- SQL UPDATE + DELETE FROM over a catalog-synced lake (r17) --
    // The LakeDmlRule routes both statements through the native
    // upsert/delete: UPDATE projects the assignments over the filtered
    // snapshot (unassigned columns carry — free read-modify-write, `_ts`
    // assigned here so the LWW ordering is explicit), DELETE
    // scan-filters its predicate to keys and bloom-prunes the dispatch.
    "q104_lake_sql_dml" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqldml")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        val seed = orders.filter(col("o_orderkey") % 3 === 0).select(
          concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("o_orderkey").as("okey"), col("o_totalprice").as("amount"))
        new LakeTable(spark, lakeDir, numBuckets = 4, bloomOnWrite = false)
          .bulkInsert(seed)
        val tbl = s"gq104_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$lakeDir', buckets '4')""".stripMargin)
        try {
          spark.sql(s"UPDATE $tbl SET amount = amount + 5, _ts = 2 WHERE okey % 5 = 0")
          spark.sql(s"DELETE FROM $tbl WHERE okey % 7 = 0")
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"), col("amount"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount FROM (
          |  SELECT o_orderkey AS okey, CAST(2 AS BIGINT) AS ts,
          |         o_totalprice + 5 AS amount
          |  FROM orders
          |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 = 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(1 AS BIGINT), o_totalprice
          |  FROM orders
          |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 7 <> 0 AND o_orderkey % 5 <> 0
          |) t ORDER BY okey""".stripMargin)),

    // ---- SQL MERGE with WHEN NOT MATCHED BY SOURCE (r17) -------------
    // The full three-population sync shape: matched rows update from the
    // source, unmatched source rows insert, and target rows the batch
    // does NOT name either sync-delete (okey%5==0) or update in place
    // (amount doubles at _ts=3, okey read-modify-writes through).
    // Exercises the snapshot anti-join population + the target-side
    // first-match routing alongside the probe split, in ONE commit.
    "q106_lake_sql_merge_sync" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqlsync")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        val seed = orders.filter(col("o_orderkey") % 3 === 0).select(
          concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("o_orderkey").as("okey"), col("o_totalprice").as("amount"))
        new LakeTable(spark, lakeDir, numBuckets = 4, bloomOnWrite = false)
          .bulkInsert(seed)
        val tbl = s"gq106_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$lakeDir', buckets '4')""".stripMargin)
        try {
          orders.filter(col("o_orderkey") % 2 === 0).select(
            concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
            lit(2L).as(LakeTable.TsCol),
            col("o_orderkey").as("okey"),
            (col("o_totalprice") + lit(10.0)).as("amount"))
            .createOrReplaceTempView(s"src_$tag")
          spark.sql(
            s"""MERGE INTO $tbl t USING src_$tag s ON t._key = s._key
               |WHEN MATCHED THEN UPDATE SET _ts = s._ts, amount = s.amount
               |WHEN NOT MATCHED THEN INSERT (_key, _ts, okey, amount)
               |  VALUES (s._key, s._ts, s.okey, s.amount)
               |WHEN NOT MATCHED BY SOURCE AND t.okey % 5 = 0 THEN DELETE
               |WHEN NOT MATCHED BY SOURCE THEN
               |  UPDATE SET amount = t.amount * 2, _ts = 3""".stripMargin)
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"src_$tag")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"), col("amount"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount FROM (
          |  SELECT o_orderkey AS okey, CAST(2 AS BIGINT) AS ts,
          |         o_totalprice + 10 AS amount
          |  FROM orders WHERE o_orderkey % 2 = 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(3 AS BIGINT), o_totalprice * 2
          |  FROM orders
          |  WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
          |    AND o_orderkey % 5 <> 0
          |) t ORDER BY okey""".stripMargin)),

    // ---- SQL MERGE INTO over a PARTITIONED lake table (r18) ----------
    // q102's routing surface on the partition-path layout: the target is
    // a PartitionedLakeTable on `prio` (5 order-priority partitions).
    // The source carries the partition column IN-BAND with the TRUE
    // placement (both sides derive from the same orders rows), so the
    // membership probe routes to only the partitions the source names
    // (the r18 deleteRouted-contract path), deletes route by the TARGET
    // row's partition, the UPDATE is a partial assignment list (okey +
    // prio read-modify-write through the probe join — assigning prio
    // would disable routing AND trip the move guard), and inserts name
    // their partition explicitly. Final read re-attaches the partition
    // value from the directory layout.
    "q107_lake_sql_merge_part" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqlmergep")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        orders.createOrReplaceTempView(s"orders_$tag")
        val tbl = s"gq107_$tag"
        // SQL-ONLY lifecycle (r19, VERDICT r18 #1): the partitioned
        // layout is born from the CTAS itself — `partitionCol` in
        // OPTIONS routes the seed through the partition-path write, no
        // Scala bootstrap.
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$lakeDir', buckets '4', bloomOnWrite 'false',
             |         partitionCol 'prio')
             |AS SELECT concat('o#', o_orderkey) AS ${LakeTable.KeyCol},
             |          CAST(1 AS BIGINT) AS ${LakeTable.TsCol},
             |          o_orderkey AS okey, o_totalprice AS amount,
             |          o_orderpriority AS prio
             |FROM orders_$tag WHERE o_orderkey % 3 = 0""".stripMargin)
        try {
          orders.filter(col("o_orderkey") % 2 === 0).select(
            concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
            lit(2L).as(LakeTable.TsCol),
            col("o_orderkey").as("okey"),
            (col("o_totalprice") + lit(10.0)).as("amount"),
            col("o_orderpriority").as("prio"),
            (col("o_orderkey") % 4 === 0).as("del"))
            .createOrReplaceTempView(s"src_$tag")
          spark.sql(
            s"""MERGE INTO $tbl t USING src_$tag s ON t._key = s._key
               |WHEN MATCHED AND s.del THEN DELETE
               |WHEN MATCHED THEN UPDATE SET _ts = s._ts, amount = s.amount
               |WHEN NOT MATCHED THEN
               |  INSERT (_key, _ts, okey, amount, prio)
               |  VALUES (s._key, s._ts, s.okey, s.amount, s.prio)""".stripMargin)
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"src_$tag")
          spark.catalog.dropTempView(s"orders_$tag")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"),
            col("amount"), col("prio"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount, prio FROM (
          |  SELECT o_orderkey AS okey, CAST(1 AS BIGINT) AS ts,
          |         o_totalprice AS amount, o_orderpriority AS prio
          |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10,
          |         o_orderpriority
          |  FROM orders
          |  WHERE o_orderkey % 6 = 0 AND o_orderkey % 4 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10,
          |         o_orderpriority
          |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
          |) t ORDER BY okey""".stripMargin)),

    // ---- SQL time travel + CALL maintenance procedures (r18) ---------
    // q79's three commits (upsert evens → delete %10 users → upsert
    // odds) through the SQL surface: `VERSION AS OF 2` must read the
    // state BETWEEN the delete and the second upsert (the parser rewrite
    // → pinned relation route), then `CALL rollback_to_instant` restores
    // that same state as LATEST and `CALL run_compaction` folds the file
    // groups — the post-procedure catalog read can only match if the
    // rollback republished the right manifest AND the procedure
    // refreshed the cached relation. Both populations share one derived
    // oracle state, tagged.
    "q108_lake_sql_timetravel" -> QueryDef(
      (spark, dir) => {
        val path = scratchDir("sqltt")
        val tag = path.split('/').last
        val lake = new LakeTable(spark, path, numBuckets = 16, bloomOnWrite = false)
        val ev = keyedEvents(spark, dir)
        lake.upsert(ev.filter(col("event_id") % 2 === 0), commitId = "b1:upsert")
        lake.delete(
          ev.filter(col("user_id") % 10 === 0).select(LakeTable.KeyCol).distinct(),
          commitId = "b2:delete")
        lake.upsert(ev.filter(col("event_id") % 2 === 1), commitId = "b3:upsert")
        val tbl = s"gq108_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |OPTIONS (path '$path', buckets '16')""".stripMargin)
        try {
          val asof = spark.sql(
            s"SELECT user_id, event_id, event_type, value FROM $tbl VERSION AS OF 2")
            .withColumn("src", lit("asof"))
          spark.sql(s"CALL rollback_to_instant(table => '$tbl', version => 2)")
          spark.sql(s"CALL run_compaction(table => '$tbl')")
          val rolled = spark.sql(
            s"SELECT user_id, event_id, event_type, value FROM $tbl")
            .withColumn("src", lit("rolled"))
          asof.unionByName(rolled).orderBy("src", "user_id")
        } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
      },
      Some(
        """WITH s AS (
          |  SELECT user_id, event_id, event_type, value FROM (
          |    SELECT user_id, event_id, event_type, value,
          |           row_number() OVER (PARTITION BY user_id
          |                              ORDER BY ts DESC, event_id DESC) AS rn
          |    FROM events WHERE event_id % 2 = 0) t
          |  WHERE rn = 1 AND user_id % 10 <> 0)
          |SELECT user_id, event_id, event_type, value, 'asof' AS src FROM s
          |UNION ALL
          |SELECT user_id, event_id, event_type, value, 'rolled' AS src FROM s
          |ORDER BY src, user_id""".stripMargin)),

    // ---- stream-static enrichment with snapshotMode=refresh (r19) -----
    // The r18 refresh mode under a DRIVER ORACLE (VERDICT r18 #5): a
    // micro-batch stream of fact rows joins a lake dimension read with
    // `snapshotMode=refresh`, and the dim is UPSERTED between the two
    // micro-batches (inside batch 0's foreachBatch, after its output is
    // written) — batch 1's join must see the new tier because refresh
    // re-pins latest per SCAN, while a default pinned dim would
    // silently serve query-start state for the stream's lifetime.
    // Replay guard: the q98 marker pattern (stage overwrite is
    // idempotent; the dim upsert is skipped once batch 0's marker
    // exists, so a foreachBatch re-delivery can't double-bump the dim).
    "q111_stream_static_refresh" -> QueryDef(
      (spark, dir) => {
        val root = scratchDir("refresh")
        val ev = Tables.load(spark, dir, "events")
          .select(col("event_id").cast("long").as("event_id"), col("user_id"))
        val users = ev.select("user_id").distinct()
        val dimDir = s"$root/dim"
        val dim = new LakeTable(spark, dimDir, numBuckets = 4, bloomOnWrite = false)
        def tiers(tag: String, ts: Long, rows: DataFrame): DataFrame = rows.select(
          concat(lit("u#"), col("user_id")).as(LakeTable.KeyCol),
          lit(ts).as(LakeTable.TsCol),
          col("user_id"), lit(tag).as("tier"))
        dim.upsert(tiers("old", 1L, users), commitId = "d1")
        val factDir = s"$root/fact"
        val fact = new LakeTable(spark, factDir, numBuckets = 8, bloomOnWrite = false)
        def keyed(rows: DataFrame): DataFrame = rows.select(
          concat(lit("e#"), col("event_id")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol), col("event_id"), col("user_id"))
        fact.bulkInsert(keyed(ev.filter(col("event_id") % 2 === 0)), commitId = "w1")
        fact.bulkInsert(keyed(ev.filter(col("event_id") % 2 === 1)), commitId = "w2")
        val dimLive = spark.read.format("cdc-lake")
          .option("path", dimDir).option("buckets", "4")
          .option("snapshotMode", "refresh").load()
          .select(col("user_id").as("d_user"), col("tier"))
        val stage = s"$root/stage"
        val batches = new java.util.concurrent.atomic.AtomicInteger(0)
        val q = spark.readStream.format("cdc-lake")
          .option("path", factDir).option("buckets", "8")
          .option("maxVersionsPerBatch", "1").load()
          .select(col("event_id"), col("user_id"))
          .join(dimLive, col("user_id") === col("d_user"))
          .select(col("event_id"), col("user_id"), col("tier"))
          .writeStream
          .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
            val marker = new java.io.File(s"$root/applied-$id")
            if (!marker.exists()) {
              batches.incrementAndGet()
              df.write.mode("overwrite").parquet(s"$stage/batch=$id")
              if (id == 0L)
                // mid-stream dim change: every %3 user moves to 'new'
                dim.upsert(
                  tiers("new", 2L, users.filter(col("user_id") % 3 === 0)),
                  commitId = "d2")
              marker.createNewFile()
            }
            ()
          }
          .option("checkpointLocation", s"$root/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        // One micro-batch per fact wave, or the refresh-visibility claim
        // degenerates to a single-batch join proving nothing.
        require(batches.get() == 2, s"expected 2 micro-batches, got ${batches.get()}")
        spark.read.parquet(stage)
          .select(col("event_id"), col("user_id"), col("tier"))
          .orderBy("event_id")
      },
      Some(
        """SELECT event_id, user_id, tier FROM (
          |  SELECT CAST(event_id AS BIGINT) AS event_id, user_id,
          |         'old' AS tier
          |  FROM events WHERE event_id % 2 = 0
          |  UNION ALL
          |  SELECT CAST(event_id AS BIGINT), user_id,
          |         CASE WHEN user_id % 3 = 0 THEN 'new' ELSE 'old' END
          |  FROM events WHERE event_id % 2 = 1) t
          |ORDER BY event_id""".stripMargin)),

    // ---- declare-first SQL lifecycle (r19) ----------------------------
    // The table is born and filled through SQL alone: CREATE TABLE with
    // an explicit schema + PARTITIONED BY declares an EMPTY
    // partition-path table (readable with its declared shape before any
    // write — the in-query require), the first INSERT INTO ... SELECT
    // creates the layout, and the final read re-attaches partition
    // values from the directories.
    "q112_lake_sql_declared_ddl" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("declddl")
        val tag = lakeDir.split('/').last
        Tables.load(spark, dir, "orders").createOrReplaceTempView(s"orders_$tag")
        val tbl = s"gq112_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl (
             |  ${LakeTable.KeyCol} STRING, ${LakeTable.TsCol} BIGINT,
             |  okey BIGINT, amount DOUBLE, prio STRING)
             |USING `cdc-lake` PARTITIONED BY (prio)
             |OPTIONS (path '$lakeDir', buckets '4', bloomOnWrite 'false')""".stripMargin)
        try {
          val empty = spark.sql(s"SELECT okey FROM $tbl").count()
          require(empty == 0, s"declared-empty table must read 0 rows, got $empty")
          spark.sql(
            s"""INSERT INTO $tbl
               |SELECT concat('o#', o_orderkey), CAST(1 AS BIGINT),
               |       o_orderkey, o_totalprice, o_orderpriority
               |FROM orders_$tag WHERE o_orderkey % 5 = 0""".stripMargin)
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"orders_$tag")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col("amount"), col("prio"))
          .orderBy("okey")
      },
      Some(
        """SELECT CAST(o_orderkey AS BIGINT) AS okey,
          |       o_totalprice AS amount, o_orderpriority AS prio
          |FROM orders WHERE o_orderkey % 5 = 0
          |ORDER BY okey""".stripMargin)),

    // ---- COMPOSITE partition paths (r20, VERDICT r19 #1) --------------
    // q107's SQL lifecycle on a TWO-column layout (Hudi
    // ComplexKeyGenerator partition-path parity): `PARTITIONED BY
    // (prio, seg)` CTAS births the nested `p=<prio>/p=<seg>` layout, the
    // MERGE source carries BOTH columns in-band with true placement (the
    // probe routes on the slash-joined composite identity), deletes
    // route by the TARGET row's composite, and `CALL drop_partitions`
    // retires one composite identity before the final read — so the
    // oracle can only match if listing, routing, re-attach, and the
    // maintenance surface all speak the same joined identity.
    "q113_lake_sql_composite_part" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("sqlcomp")
        val tag = lakeDir.split('/').last
        val orders = Tables.load(spark, dir, "orders")
        orders.createOrReplaceTempView(s"orders_$tag")
        val tbl = s"gq113_$tag"
        spark.sql(
          s"""CREATE TABLE $tbl USING `cdc-lake`
             |PARTITIONED BY (prio, seg)
             |OPTIONS (path '$lakeDir', buckets '4', bloomOnWrite 'false')
             |AS SELECT concat('o#', o_orderkey) AS ${LakeTable.KeyCol},
             |          CAST(1 AS BIGINT) AS ${LakeTable.TsCol},
             |          o_orderkey AS okey, o_totalprice AS amount,
             |          o_orderpriority AS prio,
             |          CAST(o_custkey % 3 AS BIGINT) AS seg
             |FROM orders_$tag WHERE o_orderkey % 3 = 0""".stripMargin)
        try {
          orders.filter(col("o_orderkey") % 2 === 0).select(
            concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
            lit(2L).as(LakeTable.TsCol),
            col("o_orderkey").as("okey"),
            (col("o_totalprice") + lit(10.0)).as("amount"),
            col("o_orderpriority").as("prio"),
            (col("o_custkey") % 3).cast("long").as("seg"),
            (col("o_orderkey") % 4 === 0).as("del"))
            .createOrReplaceTempView(s"src_$tag")
          spark.sql(
            s"""MERGE INTO $tbl t USING src_$tag s ON t._key = s._key
               |WHEN MATCHED AND s.del THEN DELETE
               |WHEN MATCHED THEN UPDATE SET _ts = s._ts, amount = s.amount
               |WHEN NOT MATCHED THEN
               |  INSERT (_key, _ts, okey, amount, prio, seg)
               |  VALUES (s._key, s._ts, s.okey, s.amount, s.prio, s.seg)""".stripMargin)
          // composite-identity maintenance: retire one (prio, seg) leaf
          spark.sql(
            s"CALL drop_partitions(table => '$tbl', partitions => '1-URGENT/0')")
        } finally {
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          spark.catalog.dropTempView(s"src_$tag")
          spark.catalog.dropTempView(s"orders_$tag")
        }
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "4").load()
          .select(col("okey"), col(LakeTable.TsCol).as("ts"),
            col("amount"), col("prio"), col("seg"))
          .orderBy("okey")
      },
      Some(
        """SELECT okey, ts, amount, prio, seg FROM (
          |  SELECT o_orderkey AS okey, CAST(1 AS BIGINT) AS ts,
          |         o_totalprice AS amount, o_orderpriority AS prio,
          |         CAST(o_custkey % 3 AS BIGINT) AS seg
          |  FROM orders WHERE o_orderkey % 3 = 0 AND o_orderkey % 2 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10,
          |         o_orderpriority, CAST(o_custkey % 3 AS BIGINT)
          |  FROM orders
          |  WHERE o_orderkey % 6 = 0 AND o_orderkey % 4 <> 0
          |  UNION ALL
          |  SELECT o_orderkey, CAST(2 AS BIGINT), o_totalprice + 10,
          |         o_orderpriority, CAST(o_custkey % 3 AS BIGINT)
          |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
          |) t WHERE NOT (prio = '1-URGENT' AND seg = 0) ORDER BY okey""".stripMargin)),

    // ---- Z-order on TEMPORAL + STRING lanes (r20, VERDICT r19 #4) ------
    // The q39 family extended to the non-numeric lane encodings: the
    // table clusters on (timestamp, string) — unix_micros / 7-byte-prefix
    // Morton lanes — with stats on both columns, and the read goes
    // through the relation's pushdown so the timestamp range + string
    // equality prune buckets AND files through the sidecar's epoch/UTF-8
    // encodings. The oracle is the plain filter over orders: clustering
    // is only a sort, so ANY wrong lane/stat encoding shows up as
    // missing rows (a wrongly-pruned bucket) — the hash check carries
    // the correctness load, the locality assertion lives in
    // LakeTableSpec's row-group harness.
    "q115_zorder_temporal" -> QueryDef(
      (spark, dir) => {
        val lakeDir = scratchDir("ztemporal")
        val orders = Tables.load(spark, dir, "orders")
        val lt = new LakeTable(spark, lakeDir, numBuckets = 2, filesPerBucket = 4,
          zorderBy = Seq("odate", "prio"), statsColumns = Seq("odate", "prio"))
        lt.upsert(orders.select(
          concat(lit("o#"), col("o_orderkey")).as(LakeTable.KeyCol),
          lit(1L).as(LakeTable.TsCol),
          col("o_orderkey").as("okey"),
          // LTZ timestamp under the UTC session == DuckDB's naive reading
          // (the CoreQueries convention); the raw column is NTZ, which is
          // deliberately neither statable nor laneable
          col("o_orderdate").cast("timestamp").as("odate"),
          col("o_orderpriority").as("prio"),
          col("o_totalprice").as("amount")))
        spark.read.format("cdc-lake")
          .option("path", lakeDir).option("buckets", "2")
          .option("filesPerBucket", "4")
          .option("statsColumns", "odate,prio").load()
          .filter(
            col("odate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              col("odate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
              col("prio") === "1-URGENT")
          .select(col("okey"), col("odate"), col("prio"), col("amount"))
          .orderBy("okey")
      },
      Some(
        """SELECT o_orderkey AS okey, CAST(o_orderdate AS TIMESTAMP) AS odate,
          |       o_orderpriority AS prio, o_totalprice AS amount
          |FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          |  AND o_orderpriority = '1-URGENT'
          |ORDER BY okey""".stripMargin))
  )
}
