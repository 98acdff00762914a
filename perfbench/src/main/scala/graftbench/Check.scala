package graftbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Result bookkeeping for the correctness checks: a digest that tells two
  * collected results apart, and the parquet copy of a reference result that
  * the runner compares with DuckDB's evaluation of the query's oracle SQL.
  */
object Check {
  /** Order-sensitive hash of a collected result (`Row` hashes by value). */
  def digest(rows: Array[Row]): Int = scala.util.hashing.MurmurHash3.orderedHash(rows)

  /** The collected rows, in their order, as one parquet file. */
  def writeResult(spark: SparkSession, rows: Array[Row], schema: StructType, dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
}
