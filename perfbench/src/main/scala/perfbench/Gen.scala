package perfbench

import scala.collection.mutable

/** One payload row of a benchmark table. `region` takes four values and is
  * the partition column of the partitioned tables.
  */
final case class Rec(id: Long, cat: String, qty: Long, amt: Long, region: String, note: String) {
  def json: String =
    s"""{"id":$id,"cat":"$cat","qty":$qty,"amt":$amt,"region":"$region","note":"$note"}"""
}

object Rec {
  val SchemaJson: String = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("id", LongType), StructField("cat", StringType),
      StructField("qty", LongType), StructField("amt", LongType),
      StructField("region", StringType), StructField("note", StringType))).json
  }
  val Regions: IndexedSeq[String] = IndexedSeq("r0", "r1", "r2", "r3")
  val Cats: IndexedSeq[String] = (0 until 8).map(i => s"c$i")
}

/** Driver-side last-write-wins model of one table: the state the sink must
  * produce, plus the live-key index the generator draws updates and deletes
  * from. Live ids are kept per region (array + position map), so a pick
  * over the whole table or within one region is O(1).
  */
final class TableModel(val name: String) {
  val rows = mutable.HashMap.empty[Long, (Rec, Long)] // id -> (row, envelope ts)
  private val live = Array.fill(Rec.Regions.size)(mutable.ArrayBuffer.empty[Long])
  private val pos = mutable.HashMap.empty[Long, (Int, Int)] // id -> (region, index)
  var nextId = 0L

  def size: Int = live.map(_.size).sum
  def sizeIn(region: Int): Int = live(region).size
  def liveIn(region: Int, i: Int): Long = live(region)(i)

  /** The i-th live id over all regions in order. */
  def liveAt(i: Int): Long = {
    var r = 0
    var j = i
    while (j >= live(r).size) { j -= live(r).size; r += 1 }
    live(r)(j)
  }

  def upsert(rec: Rec, ts: Long): Unit = {
    if (!rows.contains(rec.id)) {
      val r = Rec.Regions.indexOf(rec.region)
      pos(rec.id) = (r, live(r).size)
      live(r) += rec.id
    }
    rows(rec.id) = (rec, ts)
  }

  def delete(id: Long): Unit = if (rows.remove(id).isDefined) {
    val (r, i) = pos.remove(id).get
    val last = live(r).remove(live(r).size - 1)
    if (i < live(r).size) { live(r)(i) = last; pos(last) = (r, i) }
  }
}

/** One micro-batch: envelope JSON strings in arrival order, and what they
  * carry. `tsLo..tsHi` spans every envelope timestamp of the batch.
  */
final case class Batch(envelopes: Seq[String], changeRows: Long, payloadBytes: Long, tsLo: Long, tsHi: Long)

/** Seeded, single-threaded envelope generator. Every envelope holds rows of
  * one table and one operation, no key twice, and takes the next timestamp
  * of a strictly increasing clock; the model is updated as each envelope is
  * made, so it always equals the LWW outcome of everything generated so far.
  * Envelopes of a batch are shuffled before they are handed over, so the
  * sink must order them by timestamp, not by arrival.
  */
final class Gen(seed: Long, val db: String) {
  private val rnd = new java.util.Random(seed)
  private var clock = 1000000L

  private def nextTs(): Long = { clock += 1; clock }

  private def esc(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private val schemaEsc = esc(Rec.SchemaJson)

  private def envelope(table: String, ts: Long, op: String, rows: Seq[Rec]): String =
    s"""{"databaseName":"$db","tableName":"$table","schema":$schemaEsc,""" +
      s""""timestamp":$ts,"type":"$op","rows":[${rows.map(_.json).mkString(",")}]}"""

  private val noteChars = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def rec(id: Long, region: Int): Rec = {
    val note = new String(Array.fill(24)(noteChars.charAt(rnd.nextInt(noteChars.length))))
    Rec(id, Rec.Cats(rnd.nextInt(Rec.Cats.size)), rnd.nextInt(1000).toLong,
      rnd.nextInt(1000000).toLong, Rec.Regions(region), note)
  }

  /** A table's share of a batch. `region >= 0` confines every change to
    * that region (one partition of a partitioned table); -1 spreads them.
    */
  final case class Plan(m: TableModel, updates: Int, inserts: Int, deletes: Int, region: Int)

  /** Skewed pick over live positions: u^3 puts about half the picks on the
    * first tenth of the index (the hot keys).
    */
  private def skewed(p: Plan): Long = {
    val u = rnd.nextDouble()
    if (p.region < 0) p.m.liveAt(math.min(p.m.size - 1, (p.m.size * u * u * u).toInt))
    else p.m.liveIn(p.region, math.min(p.m.sizeIn(p.region) - 1, (p.m.sizeIn(p.region) * u * u * u).toInt))
  }
  private def uniform(p: Plan): Long =
    if (p.region < 0) p.m.liveAt(rnd.nextInt(p.m.size))
    else p.m.liveIn(p.region, rnd.nextInt(p.m.sizeIn(p.region)))

  /** `n` fresh rows per table for an initial load (inserts only). */
  def preload(ms: Seq[TableModel], n: Int, envRows: Int): Batch =
    batchOf(ms.map(m => Plan(m, 0, n, 0, -1)), envRows, shuffle = false)

  /** `n` change rows for each table: 80% updates of skewed live keys,
    * 10% inserts, 10% deletes of uniformly drawn live keys. Tables in
    * `oneRegion` take all their changes in one region drawn per batch.
    */
  def changes(ms: Seq[TableModel], n: Int, envRows: Int, oneRegion: Set[String] = Set.empty): Batch = {
    val ins = n / 10
    val del = n / 10
    batchOf(ms.map { m =>
      val region = if (oneRegion.contains(m.name)) rnd.nextInt(Rec.Regions.size) else -1
      Plan(m, n - ins - del, ins, del, region)
    }, envRows, shuffle = true)
  }

  private def batchOf(plan: Seq[Plan], envRows: Int, shuffle: Boolean): Batch = {
    val envs = mutable.ArrayBuffer.empty[String]
    var rows = 0L
    var bytes = 0L
    val tsLo = clock + 1
    plan.foreach { p =>
      val m = p.m
      // remaining counts per op; each envelope takes one op drawn in
      // proportion to what is left, so ops interleave across envelopes
      val left = Array(p.updates, p.inserts, p.deletes)
      while (left.sum > 0) {
        val r = rnd.nextInt(left.sum)
        val op = if (r < left(0)) 0 else if (r < left(0) + left(1)) 1 else 2
        val take = math.min(envRows, left(op))
        left(op) -= take
        val ts = nextTs()
        val seen = mutable.HashSet.empty[Long]
        val recs: Seq[Rec] = op match {
          case 0 =>
            (0 until take).flatMap { _ =>
              var id = skewed(p)
              var tries = 0
              while (seen.contains(id) && tries < 64) { id = skewed(p); tries += 1 }
              if (seen.add(id)) {
                val old = m.rows(id)._1
                Some(old.copy(qty = rnd.nextInt(1000).toLong, amt = rnd.nextInt(1000000).toLong))
              } else None
            }
          case 1 =>
            (0 until take).map { _ =>
              val id = m.nextId
              m.nextId += 1
              rec(id, if (p.region >= 0) p.region else rnd.nextInt(Rec.Regions.size))
            }
          case _ =>
            (0 until take).flatMap { _ =>
              var id = uniform(p)
              var tries = 0
              while (seen.contains(id) && tries < 64) { id = uniform(p); tries += 1 }
              if (seen.add(id)) Some(m.rows(id)._1) else None
            }
        }
        if (recs.nonEmpty) {
          if (op == 2) recs.foreach(r => m.delete(r.id)) else recs.foreach(m.upsert(_, ts))
          envs += envelope(m.name, ts, if (op == 2) "delete" else "upsert", recs)
          rows += recs.size
          bytes += recs.iterator.map(_.json.length.toLong).sum
        }
      }
    }
    val order =
      if (!shuffle) envs.toSeq
      else {
        val a = envs.toArray
        var i = a.length - 1
        while (i > 0) {
          val j = rnd.nextInt(i + 1)
          val t = a(i); a(i) = a(j); a(j) = t
          i -= 1
        }
        a.toSeq
      }
    Batch(order, rows, bytes, tsLo, clock)
  }
}
