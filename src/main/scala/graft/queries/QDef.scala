package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator instantiation: a Spark implementation over the
  * testdata tables plus (when SQL-expressible) a DuckDB oracle twin.
  *
  * Determinism contract shared by both sides (so the driver's
  * column-sorted value hash matches):
  *  - every output column is explicitly aliased, identically in both;
  *  - every query ends in a total ORDER BY (unique tie-break keys);
  *  - sums/averages over 2-decimal doubles go through DECIMAL(18,2)
  *    (order-independent exact arithmetic), then one cast to double;
  *  - ratios are `round(x, 6)`; raw timestamps are truncated to
  *    microseconds on the DuckDB side (`CAST(ts AS TIMESTAMP)`) to match
  *    Spark's parquet nanosecond→microsecond read semantics.
  */
final case class QDef(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object QDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QDef =
    QDef(name, fn, Some(oracle))
}
