package graft.lake

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Exprs
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StringType, TimestampType}

import graft.functions.{InterleaveBits, InterleaveBits3, InterleaveBits4}

/** Z-order clustering: which columns may be declared, how each becomes a
  * Morton lane, and the sort key a commit writes its files in. The handle
  * constructor, the CDC table config and `run_clustering` check a
  * declaration here; the commit's write phase asks for the key.
  */
object ZOrder {

  /** What is wrong with a Z-order declaration, if anything: it takes 2-4
    * distinct columns (compared case-insensitively, as Spark resolves
    * them) — a repeated lane is a silently degenerate curve.
    */
  def invalid(cols: Seq[String]): Option[String] = {
    val distinct = cols.map(_.toLowerCase(Locale.ROOT)).distinct.size == cols.size
    if (cols.size >= 2 && cols.size <= 4 && distinct) None
    else Some((if (distinct) "takes 2-4 columns" else "takes 2-4 columns without duplicates") +
      s", got: ${cols.mkString(",")}")
  }

  /** Per-type MONOTONE long lane encodings: numerics cast; timestamps and
    * dates take the stats sidecar's epoch encodings (micros / days — a raw
    * long cast of a timestamp is SECONDS, losing sub-second order, and a
    * date doesn't cast at all); strings take their first 7 UTF-8 bytes as
    * a big-endian non-negative long — monotone in Spark's own byte order,
    * the same order string sidecar bounds compare under (a fixed-prefix
    * code: ties beyond 7 bytes share a lane cell, which only blurs cluster
    * edges — clustering is just a sort). None for every other type.
    */
  private def encoding(dt: DataType): Option[Column => Column] = dt match {
    case TimestampType => Some(unix_micros(_))
    case DateType => Some(unix_date(_).cast("long")) // int days: the lanes are longs
    case StringType => Some(c =>
      conv(rpad(hex(substring(encode(c, "UTF-8"), 1, 7)), 14, "0"), 16, 10).cast("long"))
    case _: NumericType => Some(_.cast("long"))
    case _ => None
  }

  /** True iff a column of this type has a lane. `run_clustering` rejects
    * the others (boolean, binary, arrays) before it rewrites anything.
    */
  def laneable(dt: DataType): Boolean = encoding(dt).isDefined

  /** The lane of `c`; a type without an encoding keeps the plain long cast. */
  def lane(c: Column, dt: DataType): Column = encoding(dt).fold(c.cast("long"))(_(c))

  /** The Morton sort key of `rows` on `dims`, or None when a dimension is
    * not among its columns. Each lane is scaled into 64 / arity bits
    * (32/21/16) by the rows' own min/max — a monotone affine map that
    * clusters epoch-micro timestamps, string prefix codes and small ids
    * alike (clustering is only a sort: the per-commit normalisation cannot
    * affect results). A raw-bits interleave degenerates to a 1-D sort
    * whenever one lane's magnitude dwarfs the other's (epoch-scale lanes
    * have CONSTANT high bits). The scaling costs one tiny 2N-scalar
    * aggregate job over `rows`.
    *
    * The code sorts UNSIGNED: the 4-D interleave places dim-4 bit 15 at
    * bit 63 and the 2-D code's bit 63 is the second dimension's bit 31, so
    * a signed sort would break the curve at its most significant bit. XOR
    * with Long.MinValue is the standard unsigned-order map (a no-op
    * reordering for the always-non-negative 3-D codes).
    */
  def key(rows: DataFrame, dims: Seq[String]): Option[Column] =
    if (dims.isEmpty || !dims.forall(rows.columns.contains)) None
    else {
      val n = normalised(rows, dims, 64 / dims.size)
      Some(Exprs.column(dims.size match {
        case 2 => InterleaveBits(n(0), n(1))
        case 3 => InterleaveBits3(n(0), n(1), n(2))
        case 4 => InterleaveBits4(n(0), n(1), n(2), n(3))
      }).bitwiseXOR(lit(Long.MinValue)))
    }

  private def normalised(rows: DataFrame, dims: Seq[String], bits: Int): Seq[Expression] = {
    def laneOf(name: String): Column =
      lane(col("`" + name.replace("`", "``") + "`"), rows.schema(name).dataType)
    val maxCode = (1L << bits) - 1
    val aggs = dims.flatMap(d => Seq(min(laneOf(d)), max(laneOf(d))))
    val st = rows.agg(aggs.head, aggs.drop(1): _*).collect()(0)
    dims.zipWithIndex.map { case (d, i) =>
      val mn = if (st.isNullAt(2 * i)) 0L else st.getLong(2 * i)
      val mx = if (st.isNullAt(2 * i + 1)) mn else st.getLong(2 * i + 1)
      // range in exact arithmetic (mx - mn overflows long when the
      // dimension spans the full signed range), scale in double
      // (monotone; rounding collisions only blur cluster edges)
      val range = (BigDecimal(mx) - BigDecimal(mn)).max(1).toDouble
      Exprs.expression(greatest(
        lit(0L),
        least(
          lit(maxCode),
          floor((laneOf(d).cast("double") - lit(mn.toDouble)) / lit(range) *
            lit(maxCode.toDouble)).cast("long"))))
    }
  }
}
