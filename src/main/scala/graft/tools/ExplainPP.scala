package graft.tools
import graft.Checkpoint
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Dev-only plan dump + substage timing for the PPJoin internals
  * (jaccardPairsPrefix returns a checkpoint, so Explain on the gate shows
  * only the ExistingRDD scan — this prints the candidate-stage plan and
  * per-substage times for the d4/d6/g3 gate shapes).
  */
object ExplainPP {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.Session(32)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PP $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val docs = graft.Tables.documents(spark, dir)
    docs.count()
    if (args.contains("--plan")) {
      val d = Checkpoint(Dedup.hashedShingleFrame(docs, col("text"),
        col("doc_id"), "source", 1))
      println("========== prefixCandidateInstances (production ckpt form) ==========")
      Dedup.prefixCandidateInstancesCk(d, 0.9).explain("formatted")
      spark.stop()
      return
    }
    for ((label, thr, ng) <- Seq(("d4 t=0.9 ng=1", 0.9, 1),
        ("d6 t=0.5 ng=3", 0.5, 3))) {
      println(s"===== $label =====")
      for (rep <- 1 to 3) Checkpoint.scope {
        val d = t(s"$label shingle ckpt") {
          Checkpoint(Dedup.hashedShingleFrame(docs, col("text"),
            col("doc_id"), "source", ng))
        }
        val inst = t(s"$label cand build(ckpt pre)") {
          Dedup.prefixCandidateInstancesCk(d, thr)
        }
        t(s"$label instance count")(println(s"  instances: ${inst.count()}"))
        val pairs = t(s"$label full ppjoin") {
          Dedup.jaccardPairsPrefix(docs, col("text"), col("doc_id"),
            "source", thr, ng)
        }
        println(s"  edges: ${pairs.count()}")
      }
    }
    spark.stop()
  }
}
