package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way to hold a frame: every reused or barrier frame in the main
  * sources goes through `Checkpoints.pin` (iterative loops through
  * `Checkpoints.truncate`). The only direct holds allowed are in
  * `Checkpoints.scala` itself and three eager snapshots whose sources are
  * overwritten afterwards, so recomputing them from lineage would read the
  * new data.
  */
class HoldSitesSpec extends AnyFunSuite {

  private val root = new java.io.File("src/main/scala/graft")
  private val hold = """\.persist\(|\.cache\(\)|localCheckpoint\(|\.checkpoint\(""".r

  /** Eager snapshots allowed per file (path relative to `root`). */
  private val snapshots = Map(
    "ops/KeyedState.scala" -> 2,
    "streaming/EventsStream.scala" -> 1)

  private def sources(dir: java.io.File): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) { if (f.getName == "examples") Nil else sources(f) }
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  test("no persist/cache/checkpoint outside Checkpoints and the eager snapshots") {
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val hits = sources(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      val code = lines.zipWithIndex.filter { case (l, _) =>
        val t = l.trim
        !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
          hold.findFirstIn(l).isDefined
      }
      if (rel == "ops/Checkpoints.scala") Nil
      else {
        val snaps = code.filter(_._1.contains("localCheckpoint(true)"))
        val allowed = snapshots.getOrElse(rel, 0)
        val extra = if (snaps.size == allowed) code.filterNot(snaps.contains) else code
        extra.map { case (l, i) => s"$rel:${i + 1}: ${l.trim}" }
      }
    }
    assert(hits.isEmpty, "hold a reused frame with Checkpoints.pin (or truncate " +
      "in a loop):\n" + hits.mkString("\n"))
  }
}
