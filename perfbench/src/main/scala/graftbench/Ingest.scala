package graftbench

import graft.Tables
import graft.etl.Clean
import graft.pipeline.RedsetPipeline
import graft.queries.RedsetFixture
import graft.sources.Kafka
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `ingest` workload: the first [[Records]] records of the Redset fixture
  * in event-time order, encoded once to the Kafka JSON wire, are replayed as
  * [[Batches]] micro-batches. Each batch is decoded, cleaned, refreshes the
  * live Aggregate View panels, is folded into the incremental Expert View
  * store, and the three Expert View views are read back. A round replays
  * the whole stream into an empty store.
  */
object Ingest {
  val Records = 40000L
  val Batches = 4
  val Buckets = 16
  private val wireSchema = StructType(Seq(
    StructField("key", StringType), StructField("value", StringType),
    StructField("offset", LongType)))
  private val WarmRecords = 5000

  /** Batch boundaries over `n` records in event-time order: even cuts, each
    * moved by up to a twentieth of a batch, as the seed says.
    */
  def boundaries(n: Long, seed: Long): Seq[Long] = {
    val rnd = new scala.util.Random(seed)
    val size = n.toDouble / Batches
    0L +: (1 until Batches).map(i => math.round(i * size + (rnd.nextDouble() * 0.1 - 0.05) * size)) :+ n
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val wireDir = s"${ctx.out}/wire"
    val n = math.min(Records, Tables.events(spark, ctx.dir).count())
    val bounds = boundaries(n, ctx.seed)
    // the wire log: records carry their offset in event-time order, one
    // directory per micro-batch, like a topic read offset range by range
    tr.span("encode", "sources") {
      val offsets = Tables.events(spark, ctx.dir).select(
        col("event_id").cast("string").as("k"),
        (row_number().over(Window.orderBy(col("ts"), col("event_id"))) - 1).as("offset"))
      val batchOf = bounds.slice(1, Batches).map(b => when(col("offset") >= b, 1).otherwise(0))
        .reduce(_ + _)
      Kafka.encode(RedsetFixture.raw(spark, ctx.dir))
        .join(offsets.filter(col("offset") < n), col("key") === col("k"))
        .select(col("key"), col("value"), col("offset"), batchOf.as("batch"))
        .repartition(col("batch")).write.mode("overwrite")
        .partitionBy("batch").parquet(wireDir)
    }
    val sizes = bounds.sliding(2).map(p => p(1) - p(0)).toSeq
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val stores = mutable.ArrayBuffer[Map[String, Any]]()
    var reference: Option[Int] = None

    /** Replays batches `0 until upTo`, each cut to its first `limit`
      * records if given, into an empty store.
      */
    def replay(round: Int, upTo: Int, phase: String, limit: Option[Long] = None): Unit = {
      val store = s"${ctx.out}/store-$phase-$round"
      val panelSums = new Array[Long](9)
      var views: Seq[(String, Array[Row], StructType)] = Nil
      (0 until upTo).foreach { i =>
        val before = if (tr.enabled) Store.list(store) else Map.empty[String, (Long, Long)]
        var recompute = -1L
        val (rec, total) = tr.timed("batch", "op", "round" -> round, "batch" -> i,
            "phase" -> phase) {
          val all = spark.read.schema(wireSchema).parquet(s"$wireDir/batch=$i")
          val wire = limit.fold(all)(n => all.filter(col("offset") < bounds(i) + n))
          val (raw, dec) = tr.timed("decode", "sources") {
            val r = Kafka.decode(wire).persist(); r.count(); r
          }
          val (cleaned, cl) = tr.timed("clean", "etl") {
            val c = Clean(raw).persist(); c.count(); c
          }
          val (panel, live) = tr.timed("live", "pipeline") {
            RedsetPipeline.compileLeaderboard(cleaned).collect()
            RedsetPipeline.topUsers(cleaned).collect()
            RedsetPipeline.queryTypeDistribution(cleaned).collect()
            RedsetPipeline.stressIndexScalable(cleaned).collect()
            RedsetPipeline.scalarPanel(cleaned).collect().head
          }
          val probe = if (tr.enabled) Some((_: Long, rows: Long) => recompute = rows) else None
          val (_, inc) = tr.timed("increment", "pipeline") {
            RedsetPipeline.incrementalBatch(raw, i, s"$store/staged", s"$store/out",
              Buckets, probe)
          }
          val (vs, vw) = tr.timed("views", "pipeline")(readViews(spark))
          views = vs
          (Map("decode_s" -> dec, "clean_s" -> cl, "live_s" -> live,
            "increment_s" -> inc, "views_s" -> vw), panel, raw, cleaned)
        }
        val (timings, panel, raw, cleaned) = rec
        // traced runs only: the batch's own flattened rows, for useful_ratio
        val flatRows = if (tr.enabled) RedsetPipeline.flattened(raw).count() else -1L
        cleaned.unpersist(true); raw.unpersist(true)
        (0 until 9).foreach(c => panelSums(c) += panel.getLong(c))
        val blocks = spark.sparkContext.getPersistentRDDs.size
        val written = if (tr.enabled) {
          val after = Store.list(store)
          val w = after.filter { case (p, v) => !before.get(p).contains(v) }
          Map("files_written" -> w.size, "bytes_written" -> w.values.map(_._1).sum)
        } else Map.empty
        ops += timings ++ written ++ Map("round" -> round, "batch" -> i, "phase" -> phase,
          "records" -> limit.fold(sizes(i))(math.min(sizes(i), _)), "total_s" -> total,
          "blocks_left" -> blocks, "recompute_rows" -> recompute, "flat_rows" -> flatRows)
        Ctx.dropBlocks(spark)
      }
      if (phase == "timed") {
        val d = Check.digest(views.flatMap(_._2).toArray :+ Row.fromSeq(panelSums.toSeq))
        if (reference.isEmpty) {
          reference = Some(d)
          views.foreach { case (name, rows, schema) =>
            Check.writeResult(spark, rows, schema, s"${ctx.out}/results/$name")
          }
          writePanelSums(panelSums)
        }
        stores += Map("round" -> round, "bytes" -> Store.list(store).values.map(_._1).sum,
          "same" -> reference.contains(d))
      }
      Store.delete(store)
    }

    def writePanelSums(sums: Array[Long]): Unit = {
      val schema = RedsetPipeline.scalarPanel(
        Clean(RedsetFixture.raw(spark, ctx.dir).limit(0))).schema
      val rows = Array(Row.fromSeq(sums.toSeq))
      Check.writeResult(spark, rows, schema, s"${ctx.out}/results/scalar_panel_sum")
    }

    // warm-up: JIT and codegen over the start of the stream, into a
    // scratch store
    replay(0, 1, "warm", Some(WarmRecords))
    val timed = ctx.timedSection(r => replay(r, Batches, "timed"))
    val oracle = graft.SparkEntry.oracleSql
    def check(name: String, gate: String) = Map("name" -> name,
      "dir" -> s"${ctx.out}/results/$name", "oracle" -> oracle.get(gate))
    Map("ops" -> ops, "timed" -> timed, "stores" -> stores, "bounds" -> bounds,
      "records" -> n,
      "checks" -> Seq(check("output_table", "redset_output_table"),
        check("workload", "redset_workload"), check("freshness", "redset_freshness"),
        check("scalar_panel_sum", "redset_scalar_panel")))
  }

  /** The Expert View dashboards' reads of the maintained store, shaped and
    * ordered like the registry's `_inc` gates.
    */
  private def readViews(spark: SparkSession): Seq[(String, Array[Row], StructType)] = {
    def view(name: String) = spark.table(s"global_temp.$name")
    val frames: Seq[(String, DataFrame)] = Seq(
      "output_table" -> view("expert_output_table")
        .select("instance_id", "query_id", "arrival_timestamp", "query_type", "table_id",
          "last_ingest_ts", "time_since_last_ingest_ms", "time_to_next_ingest_ms")
        .orderBy(col("query_id"), col("table_id"), col("last_ingest_ts"),
          col("time_to_next_ingest_ms")),
      "workload" -> view("expert_workload")
        .select("instance_id", "table_id", "select_count", "transform_count")
        .orderBy(col("instance_id"), col("table_id")),
      "freshness" -> view("expert_freshness")
        .select(col("instance_id"), col("table_id"),
          round(col("avg_since_ms"), 3).as("avg_since_ms"),
          round(col("avg_to_next_ms"), 3).as("avg_to_next_ms"))
        .orderBy(col("instance_id"), col("table_id")))
    frames.map { case (name, df) => (name, df.collect(), df.schema) }
  }
}

/** Files under a store directory: path -> (bytes, modified time). */
object Store {
  def list(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { p =>
        p.toString -> (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }
  }

  def delete(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
  }

}
