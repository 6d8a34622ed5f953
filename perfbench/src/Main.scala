package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** The benchmark's driver: one process, one client thread, a closed loop of
  * ops against `local[nproc]`.
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *   perfbench.Main --selftest --work <dir>
  * }}}
  *
  * The last stdout line is the result JSON. With `--trace 0` it carries the
  * end-to-end metrics; with `--trace 1` the run spends half its time
  * untraced and half traced, and carries the per-layer metrics.
  */
object Main {

  val Layers: Seq[String] = Seq("io.read", "pipeline.plan") ++
    Workload.Stages.map("pipeline.stage." + _) ++
    Seq("pipeline.store_write", "report.phenotype", "report.genotype", "report.novel",
      "report.collapse", "io.write", "ops.strip_boilerplate", "ops.exact_dedup",
      "ops.near_dup", "ops.decontaminate", "ops.pack")

  /** Metric name for a layer's self time: `pipeline.stage.x` -> `pipeline.stage_s.x`. */
  def timeMetric(layer: String): String =
    if (layer.startsWith("pipeline.stage.")) "pipeline.stage_s." + layer.stripPrefix("pipeline.stage.")
    else layer + "_s"

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, selftest: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work", ".bench_build/perfbench/work")),
      args.contains("--selftest"))
  }

  def session(dir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dir.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", dir.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile, samples beyond). With ten or fewer samples no
    * percentile has ten beyond it, and the tail is the largest value. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.last, 100.0, 0)
    else {
      val k = s.size - 11
      (s(k), 100.0 * k / (s.size - 1), 10)
    }
  }

  /** Driver heap in use once full GCs stop freeing memory: a GC lets
    * Spark's cleaner drop the blocks of frames that died, the next GC
    * frees them, and on a busy host the cleaner may need several rounds. */
  def liveHeapMb(): Double = {
    def gcUsed(): Long = {
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var last = gcUsed()
    var next = gcUsed()
    var rounds = 2
    while (rounds < 20 && last - next > 1000000L) { last = next; next = gcUsed(); rounds += 1 }
    next / 1e6
  }

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }
      .mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => json(other.toString)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.selftest) { SelfTest.run(a.work); return }
    val make = Workload.all.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'; " +
        s"expected one of ${Workload.all.keys.toSeq.sorted.mkString(", ")}"))
    val processStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Workload.deleteTree(a.work)
    val bench = new Bench(a, make())
    bench.setup()
    val setupS = (System.currentTimeMillis() - processStart) / 1e3
    val result =
      if (!a.trace) bench.endToEnd(setupS)
      else bench.perLayer()
    bench.close()
    println(result)
  }
}

/** One run: set-up, then the timed closed loop in the same session. */
final class Bench(a: Main.Args, wl: Workload) {
  import Main._

  private var spark: SparkSession = _
  private var opNo = 0
  private var attempted = 0
  private var failed = 0
  private val problems = mutable.ArrayBuffer.empty[String]
  private val noTrace = () => new Tracer(spark.sparkContext, enabled = false)

  /** Start the session, generate the inputs and run one untimed, checked
    * warm-up op, so the JIT and Spark's code generation are warm when the
    * timed loop starts. */
  def setup(): Unit = {
    spark = session(a.work)
    wl.setup(spark, a.work.resolve("inputs"), a.seed)
    runOp(noTrace(), 0)._2.release()
  }

  /** Run one op on pool input `input`, reading a fresh copy of its file so
    * no op can reuse plans cached for another; returns (seconds, result). */
  private def runOp(t: Tracer, input: Int): (Double, OpResult) = {
    val n = opNo
    opNo += 1
    attempted += 1
    val src = wl.inputPath(input)
    val copy = a.work.resolve(s"ops/op$n").resolve(src.getFileName)
    Files.createDirectories(copy.getParent)
    Files.copy(src, copy, StandardCopyOption.REPLACE_EXISTING)
    val t0 = System.nanoTime()
    val res =
      try Right(t.op(n)(wl.op(spark, input, copy, n, t)))
      catch { case e: Exception => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    val done = () => Workload.deleteTree(copy.getParent)
    res match {
      case Left(e) =>
        failed += 1
        problems += s"op $n threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        (secs, OpResult(() => Vector.empty, done, () => Map.empty))
      case Right(r) =>
        val found =
          try r.check()
          catch { case e: Exception => Vector(s"check threw ${e.getMessage}") }
        if (found.nonEmpty) {
          failed += 1
          problems ++= found.take(3).map(p => s"op $n: $p")
        }
        (secs, r.copy(release = () => { r.release(); done() }))
    }
  }

  /** Closed loop for `seconds`; every op is checked and released.
    * `account` runs after the check and before the release, `released`
    * after it. */
  private def loop(t: Tracer, seconds: Double, minOps: Int,
      account: (Int, OpResult) => Unit = (_, _) => (),
      released: () => Unit = () => ()): Seq[(Double, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Double, Long)]
    val start = System.nanoTime()
    var i = 0
    while (i < minOps || (System.nanoTime() - start) / 1e9 < seconds) {
      val input = i % wl.pool
      val (secs, r) = runOp(t, input)
      account(i, r)
      r.release()
      released()
      out += ((secs, wl.records(input)))
      i += 1
    }
    out.toSeq
  }

  private def status(extra: Map[String, Any]): Unit =
    println(json(Map("workload" -> wl.name, "seed" -> a.seed, "attempted" -> attempted,
      "failed" -> failed, "failed_frac" -> failed.toDouble / attempted,
      "problems" -> problems.take(10).toSeq) ++ extra))

  private def result(metrics: Seq[(String, Double, String)]): String =
    json(Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap))

  def endToEnd(setupS: Double): String = {
    val w0 = System.nanoTime()
    val ops = loop(noTrace(), a.seconds, 1)
    val wall = (System.nanoTime() - w0) / 1e9
    val heap = liveHeapMb()
    val lat = ops.map(_._1)
    val (tailV, tailP, beyond) = tail(lat)
    status(Map("ops" -> lat.size, "timed_wall_s" -> wall,
      "op_tail_percentile" -> tailP, "op_tail_samples_beyond" -> beyond))
    result(Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", median(lat), "s"),
      ("op_tail_s", tailV, "s"),
      ("records_per_s", ops.map(_._2).sum / wall, "1/s"),
      ("live_heap_mb", heap, "MB")))
  }

  def perLayer(): String = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val cores = Runtime.getRuntime.availableProcessors
    // untraced half: the baseline for the tracing overhead and busy share
    val busy0 = listener.executorRunNanos
    val w0 = System.nanoTime()
    val plain = loop(noTrace(), a.seconds / 2, 1).map(_._1)
    val wall = System.nanoTime() - w0
    org.apache.spark.perfbenchbridge.Bus.drain(sc)
    val busyFrac = (listener.executorRunNanos - busy0).toDouble / (wall.toDouble * cores)
    // traced half: counts come from its first op, which always reads pool
    // input 0, so they repeat exactly for a seed; times are medians
    val tracer = new Tracer(sc, enabled = true)
    var counts = Map.empty[String, Double]
    val storage = mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = loop(tracer, a.seconds / 2, 1,
      account = (i, r) => {
        val c = tracer.span("accounting")(r.counts())
        if (i == 0) counts = c
      },
      released = () => storage += ((sc.getPersistentRDDs.size.toDouble,
        sc.getRDDStorageInfo.map(s => s.memSize + s.diskSize).sum / 1e6))
    ).map(_._1)
    org.apache.spark.perfbenchbridge.Bus.drain(sc)

    val spans = tracer.spans.toSeq
    val self = Trace.selfTimes(spans)
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val opIds = spans.filter(_.name == "op").map(_.op).distinct.sorted
    def perOp(f: Span => Double, name: String): Map[Int, Double] =
      spans.filter(_.name == name).groupBy(_.op).map { case (o, ss) => o -> ss.map(f).sum }
    def medianOverOps(m: Map[Int, Double]): Double = median(opIds.map(m.getOrElse(_, 0.0)))
    def firstOp(m: Map[Int, Double]): Double = m.getOrElse(opIds.head, 0.0)
    def stats(s: Span): Seq[SpanStats] =
      subtree(s).flatMap(x => Option(listener.stats.get(x.id)))

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    Layers.foreach { layer =>
      metrics(timeMetric(layer)) = (medianOverOps(perOp(s => self(s.id) / 1e9, layer)), "s")
    }
    Layers.foreach { layer =>
      val jobs = firstOp(perOp(s => stats(s).map(_.jobs).sum.toDouble, layer))
      if (layer == "pipeline.plan") metrics("pipeline.plan_jobs") = (jobs, "count")
      else metrics(s"$layer.jobs") = (jobs, "count")
      metrics(s"$layer.shuffle_bytes") =
        (firstOp(perOp(s => stats(s).map(_.shuffleBytes).sum.toDouble, layer)), "bytes")
      metrics(s"$layer.driver_gap_s") = (medianOverOps(perOp(s => {
        val covered = Trace.unionLength(stats(s).flatMap(_.jobIntervals).map { case (j0, j1) =>
          (math.max(j0, s.start), math.min(j1, s.end)) })
        (s.end - s.start - covered) / 1e9
      }, layer)), "s")
    }
    val countUnits = Map("_s" -> "s", "_bytes" -> "bytes", "_yield" -> "ratio",
      "_per_call" -> "ratio")
    val countNames = Workload.Stages.map("pipeline.stage_rows." + _) ++ Seq(
      "io.read_rows", "pipeline.store_bytes", "report.rows_in", "report.rows_out",
      "algo.disambiguate_s", "algo.call_s", "algo.disambiguate_calls", "algo.combos_per_call",
      "pipeline.call_yield", "pipeline.containment_yield", "ops.near_dup_candidates",
      "ops.near_dup_verified", "ops.near_dup_yield")
    countNames.foreach { n =>
      val unit = countUnits.collectFirst { case (suf, u) if n.endsWith(suf) => u }
        .getOrElse("count")
      metrics(n) = (counts.getOrElse(n, 0.0), unit)
    }
    metrics("storage.pinned_rdds_after_op") = (median(storage.map(_._1).toSeq), "count")
    metrics("storage.cached_mb_after_op") = (median(storage.map(_._2).toSeq), "MB")
    metrics("spark.executor_busy_frac") = (busyFrac, "ratio")
    metrics("spark.spill_bytes") =
      (listener.stats.values().toArray(Array.empty[SpanStats]).map(_.spillBytes).sum.toDouble, "bytes")
    metrics("trace.op_self_s") =
      (medianOverOps(perOp(s => self(s.id) / 1e9, "op")), "s")
    metrics("trace.overhead_s") = (median(traced) - median(plain), "s")

    val traceFile = a.work.getParent.resolve(s"trace-${wl.name}-${a.seed}.json")
    Files.write(traceFile, json(Map("workload" -> wl.name, "seed" -> a.seed,
      "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end,
        "self_s" -> self(s.id) / 1e9)))).getBytes("UTF-8"))
    status(Map("untraced_ops" -> plain.size, "traced_ops" -> traced.size,
      "untraced_op_p50_s" -> median(plain), "traced_op_p50_s" -> median(traced),
      "spans" -> spans.size, "trace_file" -> traceFile.toString))
    result(metrics.toSeq.map { case (n, (v, u)) => (n, v, u) })
  }

  def close(): Unit = {
    spark.stop()
    Workload.deleteTree(a.work)
  }
}
