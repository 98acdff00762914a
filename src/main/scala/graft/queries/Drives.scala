package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{lit, pmod}

/** Gate setup built once per fixture: the one memo behind every drive.
  *
  * A drive is the setup run behind a family of gates: a store maintained
  * batch by batch, or a trained artifact, that many hash-gated gates then
  * read, as a deployment's dashboards read one maintained store. The
  * drive is the gates' setup, not what they measure: re-driving it per
  * bench rep would re-measure small-file staging and driver-side
  * sequencing, not the engine. So each drive runs once per
  * `(name, fixture dir)` for the life of the JVM. Stores are parquet
  * under temp dirs (not checkpoints), so they survive Bench's session
  * recycling, and are deleted at JVM exit.
  */
object Drives {

  /** One memo slot. The map only ever inserts an empty slot; the build
    * runs under the slot's own lock, outside the map. So a build may call
    * another drive (the map is never modified from inside its own mapping
    * function), no map lock is held for the seconds a drive takes, and
    * callers of one slot wait for its single build. A build that throws
    * leaves the slot empty: the next caller builds again, with its own
    * closure (and so its own, possibly recycled, session).
    */
  private final class Slot {
    private[this] var value: Option[Any] = None
    def get(build: () => Any): Any = synchronized {
      value.getOrElse { val v = build(); value = Some(v); v }
    }
  }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()

  /** `build`'s value, run at most once per `(name, dir)` per JVM. */
  def memo[A](name: String, dir: String)(build: => A): A =
    slots.computeIfAbsent((name, dir), _ => new Slot)
      .get(() => build).asInstanceOf[A]

  /** A store dir filled once per `(name, dir)`: a fresh [[tempDir]]
    * prefixed `name`, handed to `fill`; returns its path. `fill` runs in
    * a [[graft.Checkpoint.scope]], so every checkpoint it takes is freed
    * when it returns or throws. */
  def store(name: String, dir: String)(fill: String => Unit): String =
    memo(name, dir) { val p = tempDir(name); graft.Checkpoint.scope(fill(p)); p }

  /** The replay schedule: `df` split into `n` slices by `pmod(key, n)`,
    * applied as batches `0 … n-1` with batch 1 applied twice in a row —
    * an at-least-once redelivery the store must absorb. */
  def replayBatches(df: DataFrame, key: Column, n: Int): Seq[(Long, DataFrame)] = {
    val slices = (0 until n).map(r => df.filter(pmod(key, lit(n)) === r))
    (0 until n).flatMap(r =>
      Seq.fill(if (r == 1) 2 else 1)(r.toLong -> slices(r)))
  }

  /** Scratch dir, recursively deleted at JVM exit. A gate's result frame
    * is read lazily after the gate returns, so eager deletion isn't
    * possible, but nothing may outlive the run: repeated Verify, Bench or
    * probe invocations must not accumulate temp trees on the driver host.
    */
  def tempDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        val fs = f.listFiles()
        if (fs != null) fs.foreach(rm)
        f.delete(); ()
      }
      rm(p.toFile)
    }
    p.toString
  }
}
