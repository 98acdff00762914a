package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (sbt forks a single test JVM). */
object TestSpark {
  lazy val spark: SparkSession = Session(4)

  /** `body`'s value and the number of Spark jobs it started, counted in
    * its own job group by a listener that a marker job flushes. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("jobs-during", "counted body")
      val a = body
      sc.setJobGroup("jobs-flush", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60000000000L
      while (!jobs.contains("jobs-flush") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.contains("jobs-flush"), "listener not flushed")
      (a, jobs.toArray.count(_ == "jobs-during"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
