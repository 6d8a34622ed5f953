package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** A local session on `SPARK_GRAFT_CPUS` cores (else `defaultCpus`), one
    * shuffle partition per core, then the extra confs of
    * `SPARK_GRAFT_CONF="k=v;k=v"`. The scale probe
    * (`graft.examples.ScaleProbe`) builds its session here too, so both
    * switch on Spark's event log the same way.
    */
  def session(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Static conf, default 100: 128 queries (×2 in TWICE mode) cycle
      // hundreds of codegen units through the LRU — sizing it to the suite
      // avoids re-compiling every generated class per query (same rationale
      // as Bench; compiled classes only, no data cached).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    // Extra session confs for invariance sweeps — the TWICE-mode
    // fingerprints are order-insensitive and commutative, so OK lines from
    // runs under different configs (shuffle partition counts, AQE on/off)
    // are directly diffable: same results ⇒ same fingerprint, regardless
    // of partitioning. Also how a run switches on Spark's event log.
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val parts = kv.split("=", 2)
        require(parts.length == 2,
          s"bad SPARK_GRAFT_CONF entry (expected key=value): $kv")
        builder.config(parts(0), parts(1))
      })
    builder.getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names for a targeted run
    // (local iteration with tools/crosscheck.py; a full run passes 2 args).
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = session(defaultCpus = "4")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_TWICE=1: after dumping each query, execute it a
    // SECOND time from a fresh plan and diff row-level md5 fingerprints —
    // the guard against the rank-collision/float-tie class of bug (q79/q80
    // history) that only order instability across runs exposes.
    val twice = sys.env.get("SPARK_GRAFT_VERIFY_TWICE").contains("1")
    // Order-insensitive DISTRIBUTED fingerprint: per-row xxhash64 over the
    // canonical JSON of the whole row, folded with sum + bit-count + row
    // count. No driver collect — the gate stays scale-safe when a result
    // frame is large (the old collect()-and-MD5 made the determinism check
    // itself a driver bottleneck at bigger sf). Commutative folds make the
    // fingerprint independent of row order, which is exactly the determinism
    // contract (queries define order only where an oracle checks it).
    def fingerprint(df: org.apache.spark.sql.DataFrame): String = {
      import org.apache.spark.sql.functions._
      val h = xxhash64(to_json(struct(df.columns.map(col): _*),
        Map("ignoreNullFields" -> "false")))
      val row = df.select(
        sum(h.cast("decimal(38,0)")).as("s"),
        sum(bit_count(h)).as("b"),
        count(lit(1)).as("n")).head()
      s"${row.get(0)}_${row.get(1)}_${row.get(2)}"
    }
    var mismatches = 0
    SparkEntry.queries.filter(q => selected(q._1)).foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (twice) {
          val h1 = fingerprint(spark.read.parquet(s"$outDir/$name"))
          spark.catalog.clearCache()
          val h2 = fingerprint(fn(spark, sfDir))
          if (h1 == h2) println(s"[determinism] $name OK $h1")
          else { mismatches += 1
            println(s"[determinism] $name MISMATCH run1=$h1 run2=$h2") }
        }
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Operators persist multi-branch intermediates; queries are
      // independent, so release them between dumps — including
      // localCheckpoint blocks, which clearCache does not track.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    if (twice) println(s"[determinism] total mismatches: $mismatches")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(o => selected(o._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
