package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** What every workload gets: the session, the input, the run's settings and
  * the tracer.
  */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val seconds: Double, val tracer: Tracer, val out: String) {

  /** Runs whole rounds until `seconds` have passed (at least one) and
    * returns the section's wall time, round count and JVM counters. Set-up
    * ends where this starts.
    */
  def timedSection(round: Int => Unit): Map[String, Any] = {
    val setupS = Jvm.uptimeS
    val gc0 = Jvm.gcS; val jit0 = Jvm.jitS
    val t0 = System.nanoTime()
    var n = 0
    while (n == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      tracer.span("round", "round", "round" -> n)(round(n))
      n += 1
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Map("setup_s" -> setupS, "wall_s" -> wall, "rounds" -> n,
      "gc_s" -> (Jvm.gcS - gc0), "jit_s" -> (Jvm.jitS - jit0),
      "heap_retained_mb" -> Jvm.retainedMb())
  }
}

object Ctx {
  /** The benchmark's cleanup between operations: unpersist what is left. */
  def dropBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object Jvm {
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  def jitS: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  /** Heap in use right after a full collection. The pauses let Spark's
    * context cleaner drop what the previous collection unreferenced.
    */
  def retainedMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
  }
}

/** One benchmark run in one JVM:
  * `--workload dashboard|ingest --seed N --seconds S --trace 0|1
  *  --data <sf dir> --out <dir>`.
  * Writes `<out>/result.json` (operations, timings, checks to make) and,
  * traced, `<out>/trace.json`.
  */
object Main {
  /** Task threads: one fewer than the 4 cores of the box the bounds were
    * calibrated on, leaving one to the driver thread and the JIT compiler.
    * Measured there (3 runs each), 2, 3 and 4 threads gave the same
    * latencies within the run-to-run spread (perfbench/README.md).
    */
  val Threads = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val out = a("out")
    val (spark, sessionS) = Clock.timed {
      val s = SparkSession.builder()
        .master(s"local[$Threads]")
        .appName(s"graft-perfbench-$workload")
        .config("spark.sql.shuffle.partitions", Threads)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "1000")
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val tracer = new Tracer(a("trace") == "1", spark.sparkContext)
    val ctx = new Ctx(spark, a("data"), a("seed").toLong, a("seconds").toDouble, tracer, out)
    val body: Map[String, Any] = workload match {
      case "dashboard" => QueryLoop.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    Json.write(s"$out/result.json", body ++ Map("workload" -> workload,
      "seed" -> ctx.seed, "threads" -> Threads, "session_s" -> sessionS))
    if (tracer.enabled) Json.write(s"$out/trace.json", tracer.toJson)
    spark.stop()
  }
}

object Clock {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}
