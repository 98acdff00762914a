package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every graft main, tool and test suite
  * starts, and the block hygiene they run between queries.
  */
object Session {

  /** A local session on `cores` threads with as many shuffle partitions,
    * UTC session time, nanosecond parquet timestamps read as longs (the
    * `events.ts` encoding [[Tables.events]] normalizes), no UI, and ERROR
    * logging. */
  def apply(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Late-suite driver-state control: even with the UI off, the app
      // and SQL status stores retain the last 1000 jobs/stages/
      // executions — ~600 query runs × (multi-job iterative loops +
      // checkpoint jobs) keep thousands of stage/task wrappers and full
      // plan-graph strings live in the InMemoryStore, and the element-
      // tracking cleanup itself scans those collections. That standing
      // heap is the main suspect for the in-suite vs fresh-session
      // drift Bench's adjudication pass keeps correcting (r8: 2–27×).
      // No caller needs that history — keep only a handful.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.worker.ui.retainedExecutors", "10")
      .getOrCreate()
    // ERROR, not WARN: the intentional global-window queries (w1 NTILE,
    // pipeline global row_number) each emit a WindowExec warning per rep,
    // and ~100 warning lines crowded Bench's per-query JSON out of the
    // driver's bounded tail capture in round 5
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Unpersist every persistent RDD. A [[Checkpoint]] taken outside every
    * scope stays in the BlockManager until its RDD is GC'd, so hundreds of
    * query runs pile up dead storage blocks; the memory pressure showed up as
    * 25× inflation on TRIVIAL projections late in the alphabetical r7
    * bench suite — not plan damage. Call it after each query run (each
    * run rebuilds its own checkpoints). Never throws.
    */
  def dropBlocks(spark: SparkSession): Unit =
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    catch { case _: Throwable => }
}
