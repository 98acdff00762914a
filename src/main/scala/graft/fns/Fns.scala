package graft.fns

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar-function toolkit (SURVEY.md §2.9 X1–X14), built exclusively from
  * codegen'd Catalyst expressions — no UDFs, so every use stays inside
  * whole-stage codegen.
  *
  * Reference semantics re-expressed:
  *  - X1 `EPOCH_MS(t2 - t1)`   (Dashboard_Historical_Final.py:281-282)
  *  - X2 open-interval sentinel `2999-12-31` (Dashboard_Historical_Final.py:288)
  *  - X5 mm:ss duration format (Kafka/ddb_wrappers.py:355-358)
  *  - X6 `LOWER(TRIM(..))` normalization (ddb_wrappers-1.py:64)
  *  - X11 threshold binning (live_updates_duckdb.py:128-136)
  *  - X13 ISO timestamp serialization (producer_Final.py:70)
  */
object Fns {

  /** X1: milliseconds between two timestamps (interval → ms). */
  def epochMsBetween(t1: Column, t2: Column): Column =
    unix_millis(t2) - unix_millis(t1)

  /** X2: sentinel timestamp closing an open ingestion interval. */
  val openIntervalSentinel: Column = to_timestamp(lit("2999-12-31 00:00:00"))

  /** X5: milliseconds → "m:ss" display string (pure expressions, not a UDF,
    * so it stays codegen'd; mirrors the reference's FLOOR/LPAD formula).
    */
  def mmss(ms: Column): Column =
    concat(
      floor(ms / 60000).cast("long").cast("string"),
      lit(":"),
      lpad(floor((ms % 60000) / 1000).cast("long").cast("string"), 2, "0"))

  /** F9: trailing-window recency slice (reference: last 24 h). */
  def recencyFilter(ts: Column, window: String = "INTERVAL 1 DAY",
                    now: Column = current_timestamp()): Column =
    ts >= now - expr(window)

  /** X13: ISO-8601 second-precision serialization. */
  def isoTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** X11: threshold binning (reference: Local/Regional/Global by cluster
    * count; exec-time 0-100/100-1000/1000+ ms). Bounds are inclusive-lower.
    */
  def bin3(c: Column, lo: Double, hi: Double,
           names: (String, String, String)): Column =
    when(c < lo, names._1).when(c < hi, names._2).otherwise(names._3)

  /** Exact money arithmetic: sum 2-decimal doubles through DECIMAL(18,2) so
    * the result is independent of partitioning/accumulation order (a plain
    * double sum differs in low bits between engines and between runs at
    * different parallelism — unacceptable for a deterministic engine).
    * Cast back to double at the very end (one rounding, deterministic).
    */
  def sumMoney(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  /** Order-independent exact average of 2-decimal doubles (decimal sum, then
    * one double division).
    */
  def avgMoney(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast("double") / count(c)

  /** Deterministic polynomial rolling-hash fingerprint of a string
    * (base 31, mod 1e9+7) — pure integer arithmetic over code points,
    * bit-identical on any engine that folds left-to-right. Used for
    * document fingerprinting, sampling, and split assignment (SURVEY §8 /
    * text ops). Backed by the native codegen'd
    * [[graft.expr.RollingHash31]]; the `aggregate(split(s, ''), ...)`
    * HOF fold it replaces is semantically identical (ExprSpec pins both)
    * but paid a per-character interpreted lambda on every hashed string.
    */
  def rollingHash(text: Column): Column =
    graft.expr.TextStatsExpressions.rollingHash(text)

  /** Strict left-to-right double dot product of two float-vector columns.
    * Backed by the native codegen'd expression (graft.expr.DotProductF);
    * bit-identical to the HOF fold
    * `aggregate(zip_with(x, y, _*_), 0.0, _+_)` it replaces.
    */
  def dot(x: Column, y: Column): Column =
    graft.expr.VectorExpressions.dotF(x, y)

  /** Cosine similarity between two float-vector columns. When comparing one
    * side against many, precompute norms per side instead (see
    * Dedup.embeddingNearDupPairs).
    */
  def cosineSim(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
}
