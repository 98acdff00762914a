package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Each consolidated mechanism stays in its one home under
  * `src/main/scala`: the session builder in [[graft.Session]], memo maps
  * and temp dirs in [[graft.queries.Drives]], eager checkpoints in
  * [[graft.Checkpoint]], fixture file reads in [[graft.Tables]].
  */
class SourceLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the repo root: no $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))
    finally walk.close()
  }

  /** Files other than `home` that mention `token`. */
  private def strays(token: String, home: String): Seq[String] =
    sources.collect { case (f, src) if f != home && src.contains(token) => f }

  test("one SparkSession builder, in graft.Session") {
    assert(strays("SparkSession.builder", "graft/Session.scala").isEmpty)
    assert(sources.map(_._2.split("SparkSession.builder", -1).length - 1).sum == 1)
  }

  test("memo maps and temp dirs only in graft.queries.Drives") {
    Seq("ConcurrentHashMap", "createTempDirectory").foreach { t =>
      assert(strays(t, "graft/queries/Drives.scala").isEmpty, t)
    }
  }

  test("fixture files (<sf dir>/<table>.parquet) opened only in graft.Tables") {
    // a name or interpolation directly before `.parquet"`: `$t.parquet"`,
    // `${name}.parquet"`, `events.parquet"`; not a bare `".parquet"` suffix
    val fixture = "[A-Za-z0-9_}]\\.parquet\"".r
    val opened = sources.collect {
      case (f, src) if f != "graft/Tables.scala" && fixture.findFirstIn(src).nonEmpty => f
    }
    assert(opened.isEmpty, opened)
  }

  test("eager checkpoints only through graft.Checkpoint, no hand release") {
    assert(strays("localCheckpoint(", "graft/Checkpoint.scala").isEmpty)
    Seq("Bridge.release", "isMaterialized").foreach { t =>
      assert(strays(t, "").isEmpty, t)
    }
  }
}
