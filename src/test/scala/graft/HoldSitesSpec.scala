package graft

import org.scalatest.funsuite.AnyFunSuite

/** One way to hold a frame: every reused or barrier frame in the main
  * sources goes through `Checkpoints.pin` (iterative loops through
  * `Checkpoints.truncate`). The only direct holds allowed are in
  * `Checkpoints.scala` itself.
  *
  * One drain: every stream is read by `Drain.files` and started, drained
  * and stopped by `Drain.toMemory` or `Drain.foreachBatch`. Only `Bench`'s
  * floor probe, which times Spark's own micro-batch floor, drives a stream
  * by hand.
  *
  * Two ways to look at a job: `perfbench --trace 1` spans, or Spark's own
  * event log (summarized by `tools/eventlog.py`). No main source, examples
  * included, registers a hand-written listener.
  *
  * One execution model: building a plan runs no job. No main source reads
  * a frame's partition count or numbers its rows through its RDD.
  */
class HoldSitesSpec extends AnyFunSuite {
  import HoldSitesSpec._

  private val hold = """\.persist\(|\.cache\(\)|localCheckpoint\(|\.checkpoint\(""".r
  private val listener = """addSparkListener\(|streams\.addListener\(""".r
  private val rddRoundTrip = """\.rdd\.(getNumPartitions|zipWithIndex)""".r
  private val streamLifecycle = """\.readStream|\.writeStream|processAllAvailable\(""".r

  /** The files allowed to drive a stream by hand. */
  private val drainSites = Set("streaming/Drain.scala", "Bench.scala")

  private def show(rel: String, hits: Seq[(String, Int)]): Seq[String] =
    hits.map { case (l, i) => s"$rel:${i + 1}: ${l.trim}" }

  test("no persist/cache/checkpoint outside Checkpoints") {
    val hits = codeHits(hold, withExamples = false).flatMap { case (rel, code) =>
      if (rel == "ops/Checkpoints.scala") Nil else show(rel, code)
    }
    assert(hits.isEmpty, "hold a reused frame with Checkpoints.pin (or truncate " +
      "in a loop):\n" + hits.mkString("\n"))
  }

  test("no hand-written listener in the main sources") {
    val hits = codeHits(listener, withExamples = true).flatMap { case (rel, code) =>
      show(rel, code)
    }
    assert(hits.isEmpty, "profile one query with Spark's event log " +
      "(SPARK_GRAFT_CONF, tools/eventlog.py) or a perfbench --trace 1 span, not a new " +
      "listener:\n" + hits.mkString("\n"))
  }

  test("every stream is read and drained through Drain") {
    val hits = codeHits(streamLifecycle, withExamples = true).flatMap { case (rel, code) =>
      if (drainSites(rel)) Nil else show(rel, code)
    }
    assert(hits.isEmpty, "read a stream with Drain.files and drain it with Drain.toMemory " +
      "or Drain.foreachBatch:\n" + hits.mkString("\n"))
  }

  test("no RDD partition count or row numbering on a plan-building path") {
    val main = new java.io.File("src/main")
    val hits = codeHits(rddRoundTrip, withExamples = true, main).flatMap { case (rel, code) =>
      show(rel, code)
    }
    assert(hits.isEmpty, "decide from the physical plan (Skew.spreadIfUnderSplit) or number " +
      "rows with row_number() inside the plan, not through df.rdd:\n" + hits.mkString("\n"))
  }
}

/** The source walk the guards over the main sources share. */
object HoldSitesSpec {

  private val root = new java.io.File("src/main/scala/graft")

  private def sources(dir: java.io.File, withExamples: Boolean): Seq[java.io.File] =
    dir.listFiles().toSeq.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) {
        if (f.getName == "examples" && !withExamples) Nil
        else sources(f, withExamples)
      }
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** Per source file under `from` (path relative to it), its non-comment lines
    * matching `pattern`, each with its 0-based line index.
    */
  def codeHits(pattern: scala.util.matching.Regex, withExamples: Boolean,
      from: java.io.File = root): Seq[(String, Vector[(String, Int)])] = {
    assert(from.isDirectory, s"run from the repository root: ${from.getAbsolutePath}")
    sources(from, withExamples).map { f =>
      val rel = from.toPath.relativize(f.toPath).toString.replace('\\', '/')
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toVector finally src.close()
      rel -> lines.zipWithIndex.filter { case (l, _) =>
        val t = l.trim
        !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
          pattern.findFirstIn(l).isDefined
      }
    }
  }
}
