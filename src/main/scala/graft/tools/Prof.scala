package graft.tools
import graft.Checkpoint
import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Scratch profiling main (not part of the driver contract). Currently:
  * stage attribution for the exact keep-one dedup action (d7/d12),
  * including the prefix-candidate substages (the d12 hot path).
  *
  * Attribution runs the PRODUCTION stages — `Dedup.repCollapse`,
  * `Dedup.hashedShingleFrame`, `Dedup.prefixCandidateInstances`,
  * `Dedup.jaccardPairsPrefix`, and `Dedup.componentsDistributed` with its
  * per-round `onRound` hook — never a mirrored copy (round-10 advice:
  * a mirror silently measured a stale plan after the row_number→min_by
  * switch).
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session(32)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROF $name%-30s ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val docs = graft.Tables.documents(spark, dir)
    docs.count()
    val threshold = 0.9
    // production rep collapse (min_by aggregate, checkpointed)
    val reps = t("rep collapse (ckpt)") {
      Dedup.repCollapse(docs, col("text"), col("doc_id"), ngram = 1)
    }
    println(s"  reps: ${reps.count()}")
    // substage attribution of jaccardPairsPrefix over the production frames
    val d = t("shingle-hash ckpt") {
      Checkpoint(Dedup.hashedShingleFrame(reps, col("text"), col("doc_id"), "__all", 1))
    }
    val tok = Dedup.explodedShingles(d)
    t("tok explode count")(println(s"  tok rows: ${tok.count()}"))
    val freq = Dedup.shingleDocFrequency(tok)
    t("freq agg count")(println(s"  vocab: ${freq.count()}"))
    t("instance stream count") {
      println("  instances: " +
        Dedup.prefixCandidateInstances(d, threshold).count())
    }
    t("distinct pairs count") {
      println(s"  candidates: ${Dedup.prefixCandidates(d, threshold).count()}")
    }
    val edges = t("jaccardPairsPrefix full") {
      Dedup.jaccardPairsPrefix(reps, col("text"), col("doc_id"), "__all",
        threshold)
    }
    println(s"  edges: ${edges.count()}")
    // per-round attribution via the REAL loop's onRound hook
    val labels = t("components (instrumented)") {
      Dedup.componentsDistributed(edges, onRound = (i, sec, conv) =>
        println(f"PROF   cc round $i%-19d $sec%.2f s converged=$conv"))
    }
    println(s"  nodes: ${labels.count()}")
    val kept = t("keep-one anti join + count") {
      Dedup.keepOnePerComponent(reps, col("doc_id"), edges).count()
    }
    println(s"  kept: $kept")
    // WARM per-stage attribution of the exact d12 path (3 reps, min): the
    // bench is min-of-3 warm, so cold single-shot numbers above mislead.
    // Stages are the production calls nearDupClusterHistogram composes.
    for (rep <- 0 until 3) Checkpoint.scope {
      def tw[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"WARM$rep $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val reps12 = tw("d12 rep collapse ckpt") {
        Dedup.repCollapse(docs, col("text"), col("doc_id"), ngram = 1)
      }
      val e12 = tw("d12 ppjoin") {
        Dedup.jaccardPairsPrefix(reps12, col("text"), col("doc_id"), "__all",
          threshold)
      }
      val l12 = tw("d12 components") { Dedup.components(e12) }
      tw("d12 hist") {
        reps12.join(l12, col("doc_id") === l12("node"), "left")
          .select(coalesce(col("comp"), col("doc_id")).as("__comp"),
            col("__dups"))
          .groupBy(col("__comp")).agg(sum(col("__dups")).as("cluster_size"))
          .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
          .count()
      }
    }
    spark.stop()
  }
}
