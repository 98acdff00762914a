package graftbench

import graft.{SparkEntry, Tables}
import scala.collection.mutable

/** The `dashboard` workload: one client runs registry queries back to back
  * in passes, each pass in a seed-fixed order. A query is built (the `QDef`
  * call), planned, executed and collected to the driver; that whole span is
  * its latency.
  */
object QueryLoop {

  /** The reference's two dashboards as panel queries over `events`: the
    * registry's analogues whose definitions cite the dashboards. (The
    * `redset_*` read gates run on stores the registry memoizes per JVM, 8 to
    * 20 s of set-up per run; the `ingest` workload drives the same
    * `RedsetPipeline` code and checks the same oracles.)
    */
  val dashboard: Seq[String] = Seq(
    "u1_output_table", "j5_workload_full_outer", "a10_analytical_ratio",
    "j6_semi_analytical_users", "a7_avg_interval_per_user",
    "a8_having_freshness", "w1_ntile_decile", "a9_max_watermark",
    "a1_scalar_counts", "a3_global_sums", "a4_top_users",
    "a5_type_distribution", "a11_hourly_histogram", "a12_error_rate_hourly",
    "a13_value_distribution", "a14_hourly_multi_sums", "o2_leaderboard_topk",
    "o6_topk_aggregator", "o4_recent_events", "o1_global_sort",
    "f9_recency_slice", "u2_distinct_pairs", "u3_intersect_users",
    "x13_iso_serialization", "st3_tumbling_window_1h", "w3_rank_per_type")

  def run(ctx: Ctx): Map[String, Any] = {
    val names = dashboard
    val spark = ctx.spark
    val fns = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val tr = ctx.tracer
    val ref = mutable.LinkedHashMap[String, Int]()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()

    def order(pass: Int): Seq[String] =
      new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(names)

    /** One query: build, plan, execute and collect; the first result of
      * each query becomes its reference.
      */
    def runQuery(q: String, pass: Int, phase: String): Unit = {
      val ((df, rows, b, p, e), total) = tr.timed("query", "op",
          "query" -> q, "pass" -> pass, "phase" -> phase) {
        val (df, b) = tr.timed("build", "queries")(fns(q)(spark, ctx.dir))
        val (_, p) = tr.timed("plan", "catalyst")(df.queryExecution.executedPlan)
        val (rows, e) = tr.timed("collect", "exec")(df.collect())
        (df, rows, b, p, e)
      }
      val blocks = spark.sparkContext.getPersistentRDDs.size
      val digest = Check.digest(rows)
      if (!ref.contains(q)) {
        ref(q) = digest
        Check.writeResult(spark, rows, df.schema, s"${ctx.out}/results/$q")
      }
      ops += Map("query" -> q, "pass" -> pass,
        "phase" -> phase, "total_s" -> total, "build_s" -> b, "plan_s" -> p,
        "exec_s" -> e, "rows" -> rows.length, "blocks_left" -> blocks,
        "same" -> (digest == ref(q)))
      Ctx.dropBlocks(spark)
    }

    // warm-up, one pass: class loading, codegen, JIT and footers; it also
    // fixes each query's reference result
    order(0).foreach(runQuery(_, 0, "warm"))
    val tablesResolve = if (tr.enabled) Some(resolveEvents(ctx)) else None
    val timed = ctx.timedSection(pass => order(pass + 1).foreach(runQuery(_, pass + 1, "timed")))
    Map("ops" -> ops,
      "timed" -> timed,
      "tables_resolve_s" -> tablesResolve,
      "checks" -> names.map(q => Map("name" -> q, "dir" -> s"${ctx.out}/results/$q",
        "oracle" -> oracle.get(q))))
  }

  /** `Tables.events(spark, dir).schema`, the one table the dashboard
    * reads, warm: the median of five resolutions.
    */
  private def resolveEvents(ctx: Ctx): Double =
    ctx.tracer.span("resolve", "tables") {
      val xs = (1 to 5).map { _ =>
        ctx.tracer.timed("resolve", "tables", "table" -> "events")(
          Tables.events(ctx.spark, ctx.dir).schema)._2
      }.sorted
      xs(xs.size / 2)
    }
}
