package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.queries.Drives
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The one memo behind every per-fixture gate drive, and the replay
  * schedule the incremental drives share. Memo names are unique per
  * test: the memo lives for the whole JVM.
  */
class DrivesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("memo: build runs once per (name, dir), also under concurrent callers") {
    val runs = new AtomicInteger()
    def get(dir: String): String = Drives.memo("drives-spec-once", dir) {
      Thread.sleep(50)
      s"$dir${runs.incrementAndGet()}"
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 8).map(_ => pool.submit(() => get("a")))
      assert(fs.map(_.get()).toSet == Set("a1"))
    } finally pool.shutdown()
    assert(get("a") == "a1" && runs.get == 1)
    assert(get("b") == "b2" && get("b") == "b2" && runs.get == 2)
  }

  test("memo: two names over one dir do not collide") {
    assert(Drives.memo("drives-spec-x", "d")(1) == 1)
    assert(Drives.memo("drives-spec-y", "d")(2) == 2)
    assert(Drives.memo("drives-spec-x", "d")(3) == 1)
  }

  test("memo: a build may call other memoized builds") {
    // 1,000 slots inserted while the outer build runs: one map-wide
    // computeIfAbsent would modify its map from inside its own mapping
    // function, which JDK 17 fails with "Recursive update" as soon as an
    // inner key shares the outer key's bin or the table resizes
    val outer = Drives.memo("drives-spec-outer", "d") {
      (0 until 1000).map(i => Drives.memo(s"drives-spec-inner-$i", "d")(i.toLong)).sum
    }
    assert(outer == 499500L)
    assert(Drives.memo("drives-spec-inner-7", "d")(-1L) == 7L)
    assert(Drives.memo("drives-spec-outer", "d")(-1L) == 499500L)
  }

  test("memo: a build that throws stores nothing and runs again") {
    var runs = 0
    def get(): Int = Drives.memo("drives-spec-retry", "d") {
      runs += 1
      if (runs == 1) throw new IllegalStateException("first build fails")
      runs
    }
    intercept[IllegalStateException](get())
    assert(get() == 2 && get() == 2 && runs == 2)
  }

  test("store: fills one temp dir once and returns its path") {
    var fills = 0
    def get(): String = Drives.store("graft_drives_spec", "d") { p =>
      fills += 1
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p, "x"), "x")
    }
    val p = get()
    assert(get() == p && fills == 1)
    assert(new java.io.File(p, "x").isFile)
  }

  test("replayBatches: batch ids 0, 1, 1, 2 over the key mod n slices") {
    val df = spark.range(-6, 12).toDF("k")
    val schedule = Drives.replayBatches(df, col("k"), 3)
    assert(schedule.map(_._1) == Seq(0L, 1L, 1L, 2L))
    schedule.foreach { case (bid, b) =>
      assert(b.collect().map(_.getLong(0)).sorted.toSeq ==
        (-6L until 12L).filter(k => Math.floorMod(k, 3L) == bid), bid)
    }
    assert(Drives.replayBatches(df, col("k"), 2).map(_._1) == Seq(0L, 1L, 1L))
  }
}
