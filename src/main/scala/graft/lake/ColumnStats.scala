package graft.lake

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.sources.{Filter => SFilter}
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, StructType, TimestampType}

import LakeTable.Manifest

/** Column min/max stats of one table (Hudi metadata-table `col_stats`
  * shape): the `_stats.json` sidecar each commit writes, its parse, the
  * union of a bucket's layers and the bucket/file pruning that reads it.
  *
  * Opt-in via `statsColumns`: each commit records per-bucket and per-file
  * min/max and null counts for the named columns in ONE sidecar beside the
  * commit's data (the manifest maps bucket -> sidecar path like
  * `bloomFiles`, so it stays KB-sized at any bucket count). Readers prune
  * buckets, and files inside surviving buckets, whose recorded range
  * provably excludes a pushed predicate BEFORE any file listing or open.
  *
  * Scale caveat: buckets are KEY-HASH file groups, so a payload column
  * prunes buckets only where its values correlate with buckets (`_ts` on
  * append-mostly partitioned tables, engineered key layouts), not for a
  * uniformly distributed column. Z-ordered multi-file buckets make files,
  * not buckets, the pruning unit for clustered columns.
  *
  * Bounds: the write tasks fold Spark internal values (epoch micros for
  * timestamps, epoch days for dates, UTF8String, Decimal) in Spark's own
  * ordering; the sidecar stores them as JSON numbers and strings; every
  * stored bound parses once, at load, into a [[ColumnStats.Bound]], and
  * every pushed literal converts through [[ColumnStats.literal]]. The one
  * ordering on bounds (numbers by exact decimal value, strings by unsigned
  * UTF-8 bytes) is Spark's ordering for every statable type, non-finite
  * doubles aside (those bounds are never written).
  */
private[lake] final class ColumnStats(io: LakeIO) {
  import ColumnStats._

  /** The stats entry a commit records for each bucket it wrote: the path of
    * its new sidecar when the write has stat columns, else the
    * [[LakeTable.EmptyStatsLayer]] sentinel for a pure-delete delta batch
    * (`deleteOnly`), else None. Deletes only REMOVE rows, so such a layer
    * adds nothing to any value range: the sentinel keeps a bucket's delta
    * stack aligned instead of going stats-dark until the next fold. Any
    * other sidecar-less delta batch leaves the stack shorter than `deltas`,
    * which readers treat as unknown (never prune).
    */
  def layer(
      relDir: String, files: Map[Int, Seq[FileFacts]],
      cols: Seq[(String, DataType)], deleteOnly: Boolean): Option[String] =
    if (cols.nonEmpty && files.nonEmpty) Some(write(relDir, files, cols))
    else if (deleteOnly) Some(LakeTable.EmptyStatsLayer)
    else None

  /** One JSON sidecar per commit holding min/max + null counts of the stat
    * columns (null counts buy IsNull/IsNotNull pruning and tell "all null"
    * from "not statable") per bucket and per FILE, from the facts the write
    * tasks collected; a bucket's entry rolls its files up in the same
    * ordering. The file map is commit-atomic and complete: it names exactly
    * the files this commit published. Keys are PHYSICAL column names, stable
    * across renames (readers remap via [[logical]]). Returns the
    * manifest-relative path.
    */
  private def write(
      relDir: String, files: Map[Int, Seq[FileFacts]],
      cols: Seq[(String, DataType)]): String = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    val bucketsNode = root.putObject("buckets")
    def put(node: ObjectNode, field: String, v: Any): Unit = v match {
      case s: org.apache.spark.unsafe.types.UTF8String => node.put(field, s.toString)
      case d: java.lang.Double => node.put(field, d.doubleValue())
      case f: java.lang.Float => node.put(field, f.doubleValue()) // exact widen
      case dec: org.apache.spark.sql.types.Decimal => node.put(field, dec.toJavaBigDecimal)
      case n: java.lang.Number => node.put(field, n.longValue())
    }
    // A non-finite double bound is not JSON-orderable: drop that column's
    // bounds for the node (conservative) rather than serialize NaN.
    def finite(v: Any): Boolean = v match {
      case d: java.lang.Double => java.lang.Double.isFinite(d)
      case f: java.lang.Float => java.lang.Float.isFinite(f)
      case _ => true
    }
    def emit(node: ObjectNode, rows: Long, cs: Seq[ColFacts]): Unit = {
      node.put("rows", rows)
      val colsNode = node.putObject("cols")
      cols.zip(cs).foreach { case ((c, _), cf) =>
        val cNode = colsNode.putObject(c)
        cNode.put("nulls", cf.nulls)
        // all-null (or NaN-bounded) column: null count only
        if (cf.min != null && finite(cf.min) && finite(cf.max)) {
          put(cNode, "min", cf.min)
          put(cNode, "max", cf.max)
        }
      }
    }
    files.toSeq.sortBy(_._1).foreach { case (b, fs) =>
      val bNode = bucketsNode.putObject(b.toString)
      emit(bNode, fs.map(_.rows).sum, cols.indices.map(i =>
        FileFactsTracker.union(cols(i)._2, fs.map(_.cols(i)))))
      val filesNode = bNode.putObject("files")
      fs.foreach(f => emit(filesNode.putObject(f.name), f.rows, f.cols))
    }
    val rel = s"$relDir/${LakeTable.StatsFileName}"
    io.replace(io.resolve(rel), mapper.writeValueAsString(root))
    rel
  }

  /** path -> bucket -> parsed stats. Sidecars are immutable once
    * published, so each is parsed once per handle.
    */
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Map[Int, BucketStats]]()

  /** A sidecar's buckets. NonFatal, not just IOException: a missing,
    * corrupt or alien-shaped sidecar (a non-integer bucket key, say) reads
    * as empty — NO PRUNE, never a failed scan.
    */
  private def load(path: String): Map[Int, BucketStats] =
    cache.computeIfAbsent(path, { p =>
      try {
        val root = reader.readTree(io.readString(io.resolve(p)))
        val bNode = root.get("buckets")
        if (bNode == null || !bNode.isObject) Map.empty
        else bNode.asInstanceOf[ObjectNode].fieldNames().asScala.map { b =>
          b.toInt -> parseBucket(bNode.get(b).asInstanceOf[ObjectNode], withFiles = true)
        }.toMap
      } catch { case scala.util.control.NonFatal(_) => Map.empty }
    })

  /** Bucket `b`'s stats in the sidecar at `path`, under LOGICAL names. */
  private def bucket(m: Manifest, path: String, b: Int): BucketStats =
    logical(m, load(path).getOrElse(b, BucketStats(None, Map.empty)))

  /** Buckets of `m` a conjunction of pushed filters can still touch.
    * Conservative: a bucket survives unless some filter PROVABLY excludes
    * its whole range; buckets without stats, with an unknown delta layer,
    * or with un-comparable literal/bound pairs always survive.
    */
  def prunedBuckets(m: Manifest, filters: Seq[SFilter]): Set[Int] = {
    if ((m.statsFiles.isEmpty && m.deltaStats.isEmpty) || filters.isEmpty)
      return m.allBuckets
    m.allBuckets.filter { b =>
      val deltas = m.deltas.getOrElse(b, Nil)
      if (deltas.isEmpty)
        !m.statsFiles.contains(b) || {
          val st = bucket(m, m.statsFiles(b), b)
          !filters.exists(f => excludes(f, st))
        }
      else {
        // Delta-carrying bucket: prunable iff EVERY layer has a stats
        // sidecar — the base (when a base dir exists) plus one per stacked
        // delta (`Manifest.deltaStats`, aligned with `deltas`). Any unknown
        // layer could hold a matching row, so a misaligned stack never
        // prunes. Pure-delete sentinel layers keep the stack aligned but are
        // skipped from the union. The union over-covers rows tombstones have
        // since deleted — conservative by construction.
        val dstats = m.deltaStats.getOrElse(b, Nil)
        val baseKnown = !m.buckets.contains(b) || m.statsFiles.contains(b)
        dstats.size != deltas.size || !baseKnown || {
          val layers = (m.statsFiles.get(b).toSeq ++
            dstats.filterNot(_ == LakeTable.EmptyStatsLayer)).map(bucket(m, _, b))
          val st = union(layers)
          !filters.exists(f => excludes(f, st))
        }
      }
    }
  }

  /** For surviving non-delta buckets whose sidecar carries per-file stats:
    * the file subsets the filters can still touch. Only buckets where at
    * least one file is provably excluded appear in the result (absent = read
    * the whole bucket dir, the conservative default — also what sidecars
    * without per-file stats and delta-carrying buckets get). An empty
    * surviving list is VALID: a bucket's rolled-up range can straddle a
    * value that every one of its files excludes (a gap between file ranges).
    */
  def prunedFiles(
      m: Manifest, keep: Set[Int], filters: Seq[SFilter]): Map[Int, Seq[String]] = {
    if (m.statsFiles.isEmpty || filters.isEmpty) return Map.empty
    keep.iterator.flatMap { b =>
      if (m.deltas.getOrElse(b, Nil).nonEmpty) None
      else m.statsFiles.get(b).flatMap { p =>
        val st = bucket(m, p, b)
        if (st.files.isEmpty) None
        else {
          val kept = st.files.collect {
            case (f, fst) if !filters.exists(excludes(_, fst)) => f
          }.toSeq.sorted
          if (kept.size == st.files.size) None else Some(b -> kept)
        }
      }
    }.toMap
  }
}

private[lake] object ColumnStats {

  /** A stored or pushed bound, in the one order both sides compare by. */
  sealed trait Bound {
    /** None for a number against a string: such a pair never prunes. */
    def compare(o: Bound): Option[Int] = (this, o) match {
      case (Num(a), Num(b)) => Some(a.compareTo(b))
      case (Utf8(a), Utf8(b)) => Some(java.util.Arrays.compareUnsigned(a, b))
      case _ => None
    }
  }
  /** Every numeric, timestamp (epoch micros) and date (epoch days) bound,
    * by exact decimal value. */
  final case class Num(v: java.math.BigDecimal) extends Bound
  /** A string bound, by unsigned UTF-8 bytes (UTF8String's order; Java's
    * String.compareTo orders UTF-16 units and disagrees above U+FFFF). */
  final case class Utf8(bytes: Array[Byte]) extends Bound

  /** Parsed per-column stats: min/max bounds (absent = all-null or
    * non-finite) and the null count (absent on the oldest sidecars). */
  final case class ColStat(mn: Option[Bound], mx: Option[Bound], nulls: Option[Long])

  /** Parsed per-bucket stats: row count (absent on the oldest sidecars),
    * per-column stats, and per-FILE stats keyed by file name within the
    * bucket dir — each file's entry reuses this class with `files` empty;
    * absent on older sidecars (bucket-level pruning only). */
  final case class BucketStats(
      rows: Option[Long], cols: Map[String, ColStat],
      files: Map[String, BucketStats] = Map.empty)

  private def utf8(s: String): Bound = Utf8(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** A pushed filter literal as a bound; None when it has no place in the
    * order (NaN, an infinity, an unsupported type), which never prunes.
    * Spark pushes both external temporal families: java.sql.* by default,
    * java.time.* under `datetime.java8API.enabled`.
    */
  private def literal(v: Any): Option[Bound] =
    try v match {
      // A Float compares through its EXACT double widening, as the writer
      // stores it (0.1f -> 0.10000000149011612): Float.toString would give
      // "0.1" and put a bucket whose bound equals the literal outside it.
      case f: java.lang.Float =>
        if (java.lang.Float.isFinite(f))
          Some(Num(java.math.BigDecimal.valueOf(f.doubleValue()))) else None
      case n: java.lang.Number => Some(Num(new java.math.BigDecimal(n.toString)))
      case t: java.sql.Timestamp => Some(Num(java.math.BigDecimal.valueOf(
        Math.addExact(Math.multiplyExact(Math.floorDiv(t.getTime, 1000L), 1000000L),
          t.getNanos.toLong / 1000L))))
      case i: java.time.Instant => Some(Num(java.math.BigDecimal.valueOf(
        Math.addExact(Math.multiplyExact(i.getEpochSecond, 1000000L), i.getNano.toLong / 1000L))))
      case d: java.sql.Date => Some(Num(java.math.BigDecimal.valueOf(d.toLocalDate.toEpochDay)))
      case d: java.time.LocalDate => Some(Num(java.math.BigDecimal.valueOf(d.toEpochDay)))
      case s: String => Some(utf8(s))
      case _ => None
    } catch { case _: NumberFormatException | _: ArithmeticException => None }

  /** Sidecar reader: JSON decimals parse exactly, not through a double,
    * so a decimal column's bounds keep every digit the writer stored. */
  private val reader =
    new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  private def parseBound(n: JsonNode): Option[Bound] =
    if (n == null) None
    else if (n.isNumber) Some(Num(n.decimalValue()))
    else if (n.isTextual) Some(utf8(n.asText()))
    else None

  private def parseCount(n: JsonNode): Option[Long] =
    Option(n).filter(_.isNumber).map(_.asLong())

  /** One bucket (or file) entry, in any of the three shapes written so
    * far: `{"rows", "cols": {col: {min, max, nulls}}, "files": {name:
    * {rows, cols}}}`, the same without `files`, and the oldest
    * `{col: {min, max}}` (bounds only: no row or null counts, no files).
    */
  private def parseBucket(node: ObjectNode, withFiles: Boolean): BucketStats = {
    val colsNode = Option(node.get("cols"))
      .filter(_.isObject).map(_.asInstanceOf[ObjectNode]).getOrElse(node)
    val cols = colsNode.fieldNames().asScala.filter(colsNode.get(_).isObject).map { c =>
      val cNode = colsNode.get(c)
      c -> ColStat(parseBound(cNode.get("min")), parseBound(cNode.get("max")),
        parseCount(cNode.get("nulls")))
    }.toMap
    val files =
      if (!withFiles) Map.empty[String, BucketStats]
      else Option(node.get("files")).filter(_.isObject)
        .map(_.asInstanceOf[ObjectNode]).map { fn =>
          fn.fieldNames().asScala.filter(fn.get(_).isObject).map { f =>
            f -> parseBucket(fn.get(f).asInstanceOf[ObjectNode], withFiles = false)
          }.toMap
        }.getOrElse(Map.empty)
    BucketStats(parseCount(node.get("rows")), cols, files)
  }

  /** Orderable scalar types recorded and compared; everything else is
    * skipped (absent stats never prune). TimestampNTZ stays un-statable:
    * normalizing it needs a session zone, and a sidecar written under one
    * zone would mis-prune readers under another.
    */
  private def statable(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | TimestampType | DateType => true
    case _ => false
  }

  /** The stat columns of a write, by PHYSICAL name, in `statsColumns`
    * order: the statable ones the written schema carries. */
  def columns(
      statsColumns: Seq[String], renames: Map[String, String],
      written: StructType): Seq[(String, DataType)] =
    statsColumns.map(c => renames.getOrElse(c, c)).flatMap(c =>
      written.fields.find(f => f.name == c && statable(f.dataType)).map(f => c -> f.dataType))

  /** Sidecar stats are keyed by PHYSICAL column names (stable across
    * renames); pruning filters reference LOGICAL names — remap the keys
    * through the manifest's mapping and DROP retired physical names (their
    * bounds describe a dropped column's data; a re-added same-named column
    * reads NULL from those files, so matching the stale stats could e.g.
    * wrongly exclude an `IS NULL` bucket).
    */
  private def logical(m: Manifest, st: BucketStats): BucketStats = {
    if (m.renames.isEmpty && m.retired.isEmpty) return st
    val inv = m.renames.map(_.swap)
    val dead = m.retired.toSet
    def remap(s: BucketStats): BucketStats = s.copy(
      cols = s.cols.collect {
        case (k, v) if !dead.contains(k) => inv.getOrElse(k, k) -> v
      },
      files = s.files.map { case (f, fs) => f -> remap(fs) })
    remap(st)
  }

  /** Conservative union of per-layer stats (base + delta sidecars of one
    * bucket): a column's union bounds exist only when EVERY layer either
    * records bounds or is PROVABLY all-null in it (nulls == rows — bounds
    * can also be absent because a non-finite double bound was dropped, and
    * treating that as "no values" would un-cover real rows). Rows/nulls sum
    * across layers (tombstoned rows stay counted — over-covering is the
    * conservative direction for every predicate [[excludes]] evaluates).
    * Mixed-kind bounds (a widening changed the JSON shape between layers)
    * drop the column.
    */
  private def union(layers: Seq[BucketStats]): BucketStats = {
    if (layers.isEmpty) return BucketStats(None, Map.empty)
    val rows =
      if (layers.forall(_.rows.isDefined)) Some(layers.flatMap(_.rows).sum) else None
    val shared = layers.map(_.cols.keySet).reduce(_ & _)
    val cols = shared.flatMap { c =>
      val entries = layers.map(l => (l, l.cols(c)))
      def known(l: BucketStats, e: ColStat): Boolean =
        (e.mn.isDefined && e.mx.isDefined) ||
          (for { n <- e.nulls; r <- l.rows } yield n == r).getOrElse(false)
      if (!entries.forall((known _).tupled)) None
      else {
        // Some(None) while no bound has been seen; None once a mixed-kind
        // pair poisons the reduction, which drops the whole column: half-
        // known bounds would let one-sided range tests prune wrongly
        def reduceBy(bs: Seq[Bound], pick: Int => Boolean): Option[Option[Bound]] =
          bs.foldLeft(Option(Option.empty[Bound])) {
            case (Some(None), n) => Some(Some(n))
            case (Some(Some(a)), n) => a.compare(n).map(s => Some(if (pick(s)) a else n))
            case (None, _) => None
          }
        val nulls =
          if (entries.forall(_._2.nulls.isDefined)) Some(entries.flatMap(_._2.nulls).sum)
          else None
        for {
          mn <- reduceBy(entries.flatMap(_._2.mn), _ <= 0)
          mx <- reduceBy(entries.flatMap(_._2.mx), _ >= 0)
        } yield c -> ColStat(mn, mx, nulls)
      }
    }.toMap
    BucketStats(rows, cols, Map.empty)
  }

  /** True iff `f` is UNSATISFIABLE on rows whose columns span the recorded
    * ranges (min/max ignore nulls: a range never proves a null row absent —
    * null-matching predicates prune only through the recorded null counts).
    */
  private def excludes(f: SFilter, st: BucketStats): Boolean = {
    import org.apache.spark.sql.sources._
    // bound `b` of column `a` against literal `v`; None = unknown
    def cmp(b: ColStat => Option[Bound], a: String, v: Any): Option[Int] =
      for { s <- st.cols.get(a); x <- b(s); y <- literal(v); c <- x.compare(y) } yield c
    def mn(a: String, v: Any): Option[Int] = cmp(_.mn, a, v)
    def mx(a: String, v: Any): Option[Int] = cmp(_.mx, a, v)
    def nulls(a: String): Option[Long] = st.cols.get(a).flatMap(_.nulls)
    // a non-null-matching predicate is unsatisfiable when every row is null
    // in that column (bounds are absent then, so the range tests alone
    // can't see it)
    def allNull(a: String): Boolean =
      (for { n <- nulls(a); r <- st.rows } yield n == r).getOrElse(false)
    def outside(a: String, v: Any): Boolean =
      mn(a, v).exists(_ > 0) || mx(a, v).exists(_ < 0)
    f match {
      case GreaterThan(a, v)        => allNull(a) || mx(a, v).exists(_ <= 0)
      case GreaterThanOrEqual(a, v) => allNull(a) || mx(a, v).exists(_ < 0)
      case LessThan(a, v)           => allNull(a) || mn(a, v).exists(_ >= 0)
      case LessThanOrEqual(a, v)    => allNull(a) || mn(a, v).exists(_ > 0)
      case EqualTo(a, v) if v != null => allNull(a) || outside(a, v)
      // null-safe equality: v != null behaves exactly like EqualTo
      // (a null row can't <=> a non-null literal); v == null is IsNull.
      case EqualNullSafe(a, v) =>
        if (v == null) nulls(a).contains(0L) else allNull(a) || outside(a, v)
      // a != v keeps only rows PROVABLY different from v — null rows
      // evaluate to unknown and are filtered post-scan, so an all-null
      // range is excluded; so is a constant one whose entire range IS v
      // (min == v == max: every non-null row equals v).
      case Not(EqualTo(a, v)) if v != null =>
        allNull(a) || (mn(a, v).exists(_ == 0) && mx(a, v).exists(_ == 0))
      // any string with prefix v is >= v in byte order, so max < v
      // excludes; and it is < ub(v) — v's UTF-8 bytes with the 0xFF tail
      // dropped and the last remaining byte incremented — so min >= ub(v)
      // excludes too (no ub when v is all 0xFF bytes).
      case StringStartsWith(a, v) if v != null =>
        allNull(a) || mx(a, v).exists(_ < 0) || {
          val bs = v.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var i = bs.length - 1
          while (i >= 0 && bs(i) == 0xFF.toByte) i -= 1
          i >= 0 && {
            val ub = java.util.Arrays.copyOf(bs, i + 1)
            ub(i) = (ub(i) + 1).toByte
            st.cols.get(a).flatMap(_.mn).flatMap(_.compare(Utf8(ub))).exists(_ >= 0)
          }
        }
      case In(a, vs) =>
        vs != null && vs.nonEmpty && !vs.contains(null) &&
          (allNull(a) || vs.forall(outside(a, _)))
      case IsNull(a)    => nulls(a).contains(0L)
      case IsNotNull(a) => allNull(a)
      case And(l, r) => excludes(l, st) || excludes(r, st)
      case Or(l, r)  => excludes(l, st) && excludes(r, st)
      case _ => false
    }
  }
}
