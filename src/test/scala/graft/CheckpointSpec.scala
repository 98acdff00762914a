package graft

import graft.dedup.Dedup
import graft.ops.{PageRank, ShortestPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Checkpoint]]: every block a scope owns is freed on every exit unless
  * the scope's result reads it, and the iterative operators hold no more
  * than the blocks their result reads. Checks compare the persisted RDD
  * ids a test adds: blocks of earlier suites may be cleaned meanwhile. */
class CheckpointSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ids: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def isLive(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case l: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(l.rdd.id)
    case _ => false
  }
  /** Ids of the live checkpoint blocks `df`'s plan reads. */
  private def reads(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd.id }
      .filter(spark.sparkContext.getPersistentRDDs.contains).toSet
  private def frame(n: Int): DataFrame = (1 to n).map(_.toLong).toDF("x")
  /** Frees what a test kept past its scopes. */
  private def free(dfs: DataFrame*): Unit = dfs.flatMap(reads).foreach(id =>
    spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))

  test("a scope frees its intermediates on return") {
    val before = ids
    var mid: DataFrame = null
    val n = Checkpoint.scope {
      mid = Checkpoint(frame(5))
      Checkpoint(mid.filter(col("x") > 2)).count()
    }
    assert(n == 3 && (ids -- before).isEmpty && !isLive(mid))
  }

  test("a scope frees every block when its body throws") {
    val before = ids
    var a: DataFrame = null
    intercept[IllegalStateException] {
      Checkpoint.scope {
        a = Checkpoint(frame(3))
        Checkpoint(a.select((col("x") * 2).as("y")))
        throw new IllegalStateException("boom")
      }
    }
    assert((ids -- before).isEmpty && !isLive(a))
  }

  test("blocks the result reads survive the scope and still collect") {
    val before = ids
    val (joined, n) = Checkpoint.scope {
      val dropped = Checkpoint(frame(4).filter(col("x") > 1))
      val kept = Checkpoint(frame(4))
      (kept.join(kept.select(col("x").as("z")), col("x") === col("z")),
        dropped.count())
    }
    assert(n == 3 && ids -- before == reads(joined) && reads(joined).size == 1)
    assert(joined.count() == 4)
    free(joined)
  }

  test("a nested scope's result blocks pass to the outer scope") {
    val before = ids
    var inner: DataFrame = null
    val out = Checkpoint.scope {
      inner = Checkpoint.scope(Checkpoint(frame(3)))
      assert(isLive(inner))
      Checkpoint(inner.select((col("x") + 1).as("y")))
    }
    // the outer result reads only its own block, so the inner one is freed
    assert(!isLive(inner) && ids -- before == reads(out))
    val kept = Checkpoint.scope {
      val i = Checkpoint.scope(Checkpoint(frame(2)))
      i.filter(col("x") > 1)
    }
    assert(kept.count() == 1 && ids -- before == reads(out) ++ reads(kept))
    free(out, kept)
  }

  test("Checkpoint of a bare checkpoint is the frame itself and runs no job") {
    val sc = spark.sparkContext
    val ck = Checkpoint(frame(3))
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("checkpoint-again", "checkpoint a checkpoint")
      assert(Checkpoint(ck) eq ck)
      sc.setJobGroup("checkpoint-flush", "listener flush")
      spark.range(1).count()
      val deadline = System.nanoTime() + 60000000000L
      while (!jobs.contains("checkpoint-flush") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(jobs.contains("checkpoint-flush"))
      assert(!jobs.contains("checkpoint-again"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
      free(ck)
    }
  }

  test("Checkpoint.next holds at most two rounds of a loop") {
    val before = ids
    val last = Checkpoint.scope {
      var r = Checkpoint(frame(4))
      (1 to 6).foreach { _ =>
        r = Checkpoint.next(r, r.select((col("x") + 1).as("x")))
        assert((ids -- before).size <= 2)
      }
      r
    }
    assert(last.agg(sum(col("x"))).as[Long].head() == 10L + 4L * 6L)
    assert(ids -- before == reads(last))
    free(last)
  }

  test("a components call that does not converge frees every block") {
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = ids
    intercept[IllegalStateException](
      Dedup.componentsDistributed(path, maxIter = 1))
    assert((ids -- before).isEmpty)
  }

  test("PageRank and SSSP loops keep only the blocks their result reads") {
    val g = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 1L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val before = ids
    val ranks = PageRank.ranksDistributed(g, 10)
    assert(ranks.collect().length == 4)
    assert(ids -- before == reads(ranks) && reads(ranks).size == 1)
    val dist = ShortestPath.sssp(g, lit(1L), 5)
    assert(dist.collect().length == 4)
    assert(ids -- before == reads(ranks) ++ reads(dist))
    free(ranks, dist)
  }
}
