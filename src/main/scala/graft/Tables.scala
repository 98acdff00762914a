package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftbridge.Bridge

/** Loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At cluster scale the same call sites would point at partitioned table roots
  * (e.g. `s3://…/events/date=…`); everything downstream operates on the
  * DataFrame, so only this object changes. Filters/projections applied by the
  * operators are pushed into these parquet scans by Catalyst (verify with
  * `.explain("formatted")` → `PushedFilters`, `ReadSchema`).
  */
object Tables {
  /** Every fixture table, in the order Bench warms them. */
  val names: Seq[String] = Seq("lineitem", "orders", "customer", "part",
    "supplier", "nation", "region", "events", "documents", "embeddings")

  /** Per session, each fixture file's resolved relation with the length and
    * modification time it was resolved at. The relations refer back to
    * their session, so a weak key alone never clears: a miss also drops
    * the entries of sessions whose context has stopped (Bench's recycle).
    */
  private val resolved = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.HashMap[String, ((Long, Long), LogicalRelation)]]())

  /** `<sfDir>/<name>.parquet`. A regular file is listed and its footer read
    * once per (session, path, length, modification time); every call gets
    * a fresh copy of that relation (new attribute ids, so a query may read
    * one table twice) and plans its own scan. Directories, which the engine
    * rewrites under one path, and missing paths are read as they are.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val p = new Path(path)
    val st = try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st.filter(_.isFile) match {
      case Some(f) => Bridge.ofPlan(spark,
        resolve(spark, path, (f.getLen, f.getModificationTime)).newInstance())
      case None => spark.read.parquet(path)
    }
  }

  /** `path`'s analyzed relation at `version` (length, modification time). */
  private def resolve(spark: SparkSession, path: String, version: (Long, Long)): LogicalRelation =
    resolved.synchronized {
      Option(resolved.get(spark)).flatMap(m => Option(m.get(path)))
    } match {
      case Some((`version`, rel)) => rel
      case _ =>
        val rel = spark.read.parquet(path).queryExecution.analyzed.asInstanceOf[LogicalRelation]
        resolved.synchronized {
          resolved.keySet.removeIf(_.sparkContext.isStopped)
          resolved.computeIfAbsent(spark, _ => new java.util.HashMap()).put(path, (version, rel))
        }
        rel
    }

  def region(spark: SparkSession, d: String): DataFrame    = table(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame    = table(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame  = table(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame  = table(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame      = table(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame    = table(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame  = table(spark, d, "lineitem")
  /** `events.parquet` has shipped with two physical `ts` encodings across
    * testdata generations: TIMESTAMP(NANOS) (reads as `long` under
    * `spark.sql.legacy.parquet.nanosAsLong=true`) and TIMESTAMP(MICROS)
    * without UTC adjustment (reads as TIMESTAMP_NTZ). Branch on the dtype
    * the reader actually produced and normalize both to session-UTC
    * `TimestampType` at microsecond precision — the same timeline DuckDB's
    * naive `TIMESTAMP` sees, so oracle comparisons line up bit-for-bit.
    * A `ts` of any other type is refused here, not passed to the gates.
    */
  def events(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = table(spark, d, "events")
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case t => throw new IllegalArgumentException(
        s"$d/events.parquet: ts is ${t.sql}, expected TIMESTAMP, TIMESTAMP_NTZ " +
          "or TIMESTAMP(NANOS) read as BIGINT")
    }
  }
  def documents(spark: SparkSession, d: String): DataFrame = table(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = table(spark, d, "embeddings")
}
