package graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one way the engine takes an eager checkpoint, and the scope that
  * frees it.
  *
  * An eager `localCheckpoint` truncates a plan to its materialized result:
  * a frame read by several consumers runs once, and an iterative plan
  * stops growing by one lineage per round. Its blocks stay in the block
  * manager until someone unpersists them, and a local checkpoint has no
  * lineage to recompute from, so a block freed too early fails the job
  * that reads it. The rule:
  *
  *  - [[apply]] takes the checkpoint and registers its block with the
  *    innermost [[scope]] open on the calling thread. With none open the
  *    block is unowned, as on `foreachBatch` threads and in gate builders;
  *    [[Session.dropBlocks]] frees those between query runs.
  *  - A scope frees, on every exit, each block registered in it that its
  *    result does not read. "Reads" means a checkpoint leaf anywhere in the
  *    analyzed plan of a `DataFrame` reachable from the result through
  *    tuples, case classes, options and collections. Those blocks pass to
  *    the enclosing scope, so a caller never frees what a callee returned.
  *  - [[next]] is the iterative loop's one call: it materializes the next
  *    round and frees the round it supersedes.
  *
  * A frame that must outlive its scope any other way (a global temp view,
  * an object field) is checkpointed outside every scope.
  */
object Checkpoint {

  private final class Scope {
    val blocks = mutable.LinkedHashMap.empty[Int, RDD[_]]
  }

  private val open = new ThreadLocal[List[Scope]] {
    override def initialValue(): List[Scope] = Nil
  }

  /** `df` as an eager local checkpoint owned by the innermost open scope;
    * `df` itself, with no job and no new owner, if it already is one. */
  def apply(df: DataFrame): DataFrame =
    if (block(df).isDefined) df
    else {
      val ck = df.localCheckpoint(true)
      block(ck).foreach(own)
      ck
    }

  /** Runs `body`, then frees every block registered in this scope that
    * its result does not read; on an exception, frees them all. */
  def scope[A](body: => A): A = {
    val s = new Scope
    open.set(s :: open.get)
    var kept = Set.empty[Int]
    try { val a = body; kept = reads(a); a }
    finally {
      open.set(open.get.tail)
      s.blocks.values.foreach(r => if (kept(r.id)) own(r) else free(r))
    }
  }

  /** The next round of an iterative loop: `df` checkpointed, then the
    * block of `prev`, the round it supersedes, freed if `prev` is a bare
    * checkpoint of the innermost scope. A loop so holds at most two
    * rounds. */
  def next(prev: DataFrame, df: DataFrame): DataFrame = {
    val ck = apply(df)
    for (r <- block(prev); s <- open.get.headOption
         if !block(ck).contains(r) && s.blocks.remove(r.id).isDefined)
      free(r)
    ck
  }

  /** The persisted RDD behind `df` if `df` is a bare, live checkpoint. */
  private def block(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE =>
        Some(l.rdd)
      case _ => None
    }

  private def own(r: RDD[_]): Unit =
    open.get.headOption.foreach(_.blocks(r.id) = r)

  private def free(r: RDD[_]): Unit = { r.unpersist(blocking = false); () }

  /** Ids of the checkpoint RDDs the frames reachable from `a` read. */
  private def reads(a: Any): Set[Int] = a match {
    case d: Dataset[_] =>
      d.queryExecution.analyzed
        .collectWithSubqueries { case l: LogicalRDD => l.rdd.id }.toSet
    case i: Iterable[_] => i.iterator.flatMap(reads).toSet
    case p: Product => p.productIterator.flatMap(reads).toSet
    case _ => Set.empty
  }
}
