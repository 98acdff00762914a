package graft.tools

/** Dev-only profiling aid (r20 optimization round): decomposes a named
  * registry query's wall time into (a) DataFrame construction (includes
  * any eager localCheckpoint jobs inside the QDef), (b) analysis +
  * optimization + physical planning, and (c) execution (count), each
  * repeated `reps` times — so "this query is slow" can be attributed to
  * driver-side planning vs cluster-side execution before touching code
  * (guide §1: measure first).
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROFILE_REPS", "3").toInt
    val spark = graft.Session(cpus)
    // warmup: footer/file-status caches
    try {
      Seq("lineitem", "orders", "customer", "part", "supplier", "nation",
        "region", "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    } catch { case _: Throwable => }
    val qs = graft.SparkEntry.queries
    def t[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = f
      ((System.nanoTime() - t0) / 1e9, a)
    }
    // SPARK_GRAFT_PROFILE_STAGES=1: per-stage duration/CPU attribution
    if (sys.env.get("SPARK_GRAFT_PROFILE_STAGES").contains("1"))
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = for { s <- si.submissionTime; c <- si.completionTime }
              yield c - s
            val tm = si.taskMetrics
            if (dur.exists(_ >= 50))
              println(s"[stage] id=${si.stageId} tasks=${si.numTasks} " +
                s"durMs=${dur.getOrElse(-1L)} runMs=${tm.executorRunTime} " +
                s"cpuMs=${tm.executorCpuTime / 1000000}")
          }
        })
    names.foreach { n =>
      (1 to reps).foreach { i =>
        val (tBuild, df) = t(qs(n)(spark, sfDir))
        val (tPlan, _) = t(df.queryExecution.executedPlan)
        val (tExec, _) = t(df.count())
        println(f"[profile] $n rep$i build=$tBuild%.3f plan=$tPlan%.3f exec=$tExec%.3f")
        graft.Session.dropBlocks(spark)
      }
    }
    spark.stop()
  }
}
