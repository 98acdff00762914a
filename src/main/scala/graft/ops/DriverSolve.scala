package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The one way an operator solves on the driver.
  *
  * Some iterative operators (connected components, PageRank, triangles,
  * the domain-mixture solve, BPE training, IVF/PQ training) pay a few
  * jobs of scheduling per round, which on gate-sized inputs dwarfs the
  * work. Each keeps a driver twin of its distributed loop that computes
  * bit-identical output, and reaches the driver only through here:
  *
  *  - ONE aggregate job over `frame` counts its rows, the data bytes of
  *    the `reads` columns (fixed widths, string/binary octet lengths,
  *    array sizes × element width) and its bad values: NULLs in `reads`,
  *    and NaN/±Inf in float/double values and array elements.
  *  - The driver path runs only on a non-empty input with no bad value
  *    whose bytes fit under [[MaxBytes]]. It collects `reads` alone (in
  *    that column order) and runs `solve`. `frame` stays the caller's:
  *    a checkpoint behind it is freed by the caller's scope.
  *  - Otherwise the result is None and the caller runs its distributed
  *    loop unchanged. That loop is THE path at scale; degenerate input
  *    (NULLs, non-finite floats, empty frames) always takes it, so the
  *    driver twin never has to mirror its NULL or NaN semantics.
  *
  * Preconditions about a driver algorithm's types (Long ids for a
  * `LongMap`, matching endpoint types) stay with its caller.
  */
object DriverSolve {

  /** The driver-memory bound on the collected column data: 16 MB, i.e.
    * four million float embedding cells. */
  val MaxBytes: Long = 16L << 20

  def apply[R](frame: DataFrame, reads: Seq[String])
              (solve: Array[Row] => R): Option[R] = {
    val fields = reads.map(frame.schema(_))
    val probe = frame.agg(
      count(lit(1)),
      sum(fields.map(f => coalesce(bytes(frame(f.name), f.dataType), lit(0L)))
        .reduce(_ + _)),
      count(when(fields.map(f => bad(frame(f.name), f.dataType)).reduce(_ || _),
        lit(1)))).head()
    if (probe.getLong(0) == 0L || probe.getLong(2) > 0L ||
        probe.getLong(1) > MaxBytes) None
    else Some(solve(frame.select(reads.map(frame(_)): _*).collect()))
  }

  private def bytes(c: Column, t: DataType): Column = t match {
    case _: StringType | BinaryType => octet_length(c).cast(LongType)
    case ArrayType(et, _) => size(c).cast(LongType) * lit(et.defaultSize.toLong)
    case _ => lit(t.defaultSize.toLong)
  }

  private def bad(c: Column, t: DataType): Column = t match {
    case FloatType | DoubleType => c.isNull || nonFinite(c)
    case ArrayType(FloatType | DoubleType, _) =>
      c.isNull || exists(c, x => x.isNull || nonFinite(x))
    case ArrayType(_, true) => c.isNull || exists(c, _.isNull)
    case _ => c.isNull
  }

  private def nonFinite(c: Column): Column =
    isnan(c) || abs(c) === lit(Double.PositiveInfinity)
}
