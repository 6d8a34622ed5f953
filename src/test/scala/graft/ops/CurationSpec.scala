package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-derived scenarios for the corpus-curation operators: benchmark
  * decontamination, boilerplate-segment removal, and sequence packing.
  */
class CurationSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-curation-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("contaminationReport: word-2-gram overlap, short docs never flagged") {
    val docs = Seq((1L, "a b c d"), (2L, "x y z"), (3L, "a"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e")).toDF("bench_id", "text")
    val got = Curation.contaminationReport(docs, "doc_id", "text", bench, "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // doc 1 grams {a b, b c, c d}; bench grams {b c, c d, d e} -> 2 matches.
    // doc 3 has < 2 tokens -> 0 grams, never contaminated.
    assert(got == Set((1L, 3L, 2L, true), (2L, 2L, 0L, false), (3L, 0L, 0L, false)))
  }

  test("decontaminate drops exactly the flagged documents") {
    val docs = Seq((1L, "a b c d"), (2L, "x y z"), (3L, "a"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "b c d e")).toDF("bench_id", "text")
    val kept = Curation.decontaminate(docs, "doc_id", "text", bench, "text", n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L))
  }

  test("decontaminate: benchmark gram set over the cap fails loud naming " +
      "noveltyReport") {
    val docs = Seq((1L, "a b c d"), (2L, "x y z")).toDF("doc_id", "text")
    // bench word-2-grams {b c, c d, d e}: three fingerprints > cap of 1
    val bench = Seq((100L, "b c d e")).toDF("bench_id", "text")
    spark.conf.set("spark.graft.maxBenchGrams", "1")
    try {
      val err = intercept[IllegalArgumentException] {
        Curation.decontaminate(docs, "doc_id", "text", bench, "text", n = 2)
      }
      assert(err.getMessage.contains("spark.graft.maxBenchGrams=1") &&
        err.getMessage.contains("noveltyReport"))
    } finally spark.conf.unset("spark.graft.maxBenchGrams")
  }

  test("stripBoilerplate: corpus-wide repeats drop, in-doc repetition stays") {
    val docs = Seq(
      (1L, "h a b"), (2L, "h c"), (3L, "h a"), (4L, "h"), (5L, "q q"))
      .toDF("doc_id", "text")
    // df: h=4 docs, a=2, b=c=q=1; minDocs=3 drops only "h".
    val got = Curation.stripBoilerplate(docs, "doc_id", "text",
        separator = " ", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "a b"), (2L, "c"), (3L, "a"), (4L, ""), (5L, "q q")))
  }

  test("stripBoilerplate: cap exceeded fails loud naming the unbounded path") {
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    spark.conf.set("spark.graft.maxBoilerSegments", "2")
    try {
      // a, b, c all have df=3 >= 2: three boiler segments > cap of 2
      val err = intercept[IllegalArgumentException] {
        Curation.stripBoilerplate(docs, "doc_id", "text",
          separator = " ", minDocs = 2)
      }
      assert(err.getMessage.contains("maxBoilerSegments") &&
        err.getMessage.contains("stripBoilerplateShuffle"))
    } finally spark.conf.unset("spark.graft.maxBoilerSegments")
    // the named fallback handles the same corpus without any cap
    val got = Curation.stripBoilerplateShuffle(docs, "doc_id", "text",
        " ", Left(2L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, ""), (2L, ""), (3L, "d")))
  }

  test("stripBoilerplate: multi-byte UTF-8 text and multi-char separator " +
      "segment identically to Spark's split") {
    val docs = Seq(
      (1L, "naïve☃x--héllo--naïve☃x"), (2L, "naïve☃x--mañana"),
      (3L, "naïve☃x"), (4L, "--"))
      .toDF("doc_id", "text")
    // df: naïve☃x = 3 docs, "" = 1 (doc 4 twice counts once), rest 1
    val got = Curation.stripBoilerplate(docs, "doc_id", "text",
        separator = "--", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "héllo"), (2L, "mañana"), (3L, ""), (4L, "--")))
  }

  test("stripBoilerplate fractional threshold: in-plan count, decimal-exact at integer boundary") {
    val docs = Seq(
      (1L, "h a b"), (2L, "h c"), (3L, "h a"), (4L, "h"), (5L, "q q"))
      .toDF("doc_id", "text")
    // 5 docs × 0.8 = exactly 4.0: "h" (df=4) must qualify. A naive
    // double threshold (5 * 0.8 = 4.000000000000001) would keep it.
    val got = Curation.stripBoilerplate(docs, "doc_id", "text",
        separator = " ", minDocs = Right(0.8))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(
      (1L, "a b"), (2L, "c"), (3L, "a"), (4L, ""), (5L, "q q")))
  }

  test("stripBoilerplate cell pre-filter: identical results with the " +
      "filter forced on, forced off, zero survivors, and cap-exceeded " +
      "pass-through") {
    // randomized-ish corpus: words drawn from a small vocab so dfs span
    // the threshold, plus unique tails so singleton fps exist
    val docs = (1L to 40L).map { i =>
      val words = (0 until 6).map(j => "w" + ((i * 7 + j * 3) % 11)) :+ s"uniq$i"
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    def run(): Set[(Long, String)] =
      Curation.stripBoilerplate(docs, "doc_id", "text", " ", Left(8L))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def withConf(kvs: (String, String)*)(body: => Set[(Long, String)]) = {
      kvs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
    }
    val off = withConf("spark.graft.stripPrefilterCells" -> "0")(run())
    // forced ON despite the small threshold (floor lowered), few cells so
    // collisions actually happen and the exact pass must reject them
    val on = withConf("spark.graft.stripPrefilterCells" -> "8",
      "spark.graft.stripPrefilterMinDocs" -> "1")(run())
    assert(on == off, "pre-filtered and exact plans must agree")
    // cap exceeded (1 allowed survivor) degrades to the exact plan
    val capped = withConf("spark.graft.stripPrefilterCells" -> "8",
      "spark.graft.stripPrefilterMinDocs" -> "1",
      "spark.graft.stripPrefilterMaxCells" -> "1")(run())
    assert(capped == off)
    // a cap <= 0 is off: every survivor cell collects
    val uncapped = withConf("spark.graft.stripPrefilterCells" -> "8",
      "spark.graft.stripPrefilterMinDocs" -> "1",
      "spark.graft.stripPrefilterMaxCells" -> "0")(run())
    assert(uncapped == off)
    // zero survivors short-circuits to an empty boiler set: threshold
    // above every df leaves every doc intact
    val untouched = Curation.stripBoilerplate(docs, "doc_id", "text", " ",
        Left(1000L))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(untouched == docs.collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet)
  }

  test("dedupeSegments: in-doc repeats keep first occurrence; cross-doc untouched") {
    val docs = Seq(
      (1L, "nav home nav about nav home end"), // repeated "nav" and "home"
      (2L, "nav unique"), // "nav" here must survive (per-doc semantics)
      (3L, "x"))
      .toDF("doc_id", "text")
    val got = Curation.dedupeSegments(docs, "doc_id", "text", separator = " ")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "nav home about end")
    assert(got(2L) == "nav unique")
    assert(got(3L) == "x")
  }

  test("repetitionReport: duplicate-segment and top-bigram fractions") {
    val docs = Seq((1L, "a a b"), (2L, "x"), (3L, "c c c c"))
      .toDF("doc_id", "text")
    val got = Curation.repetitionReport(docs, "doc_id", "text", separator = " ")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
      .toSet
    assert(got == Set(
      // doc 1: segs {a,a,b} -> 3/2 distinct; bigrams {"a a","a b"} -> top 1/2
      (1L, 3L, 2L, 0.333333, 2L, 1L, 0.5),
      // doc 2: one segment, no bigrams
      (2L, 1L, 1L, 0.0, 0L, 0L, 0.0),
      // doc 3: 4 segs 1 distinct; bigrams "c c" x3
      (3L, 4L, 1L, 0.75, 3L, 3L, 1.0)))
  }

  test("redactPii: email, IPv4, phone each replaced; clean text untouched") {
    val docs = Seq(
      (1L, "mail bob.smith+x@mail.example.org or 192.168.0.1 tel +44 20 7946 0958 ok"),
      (2L, "no pii here at all"),
      // the IPv4 rule is \b-anchored: a longer dotted number must NOT be
      // partially mangled into '<IP>5' (the unanchored pattern did that)
      (3L, "version 1.222.333.4445 is not an ip"))
      .toDF("doc_id", "text")
    val got = docs.select($"doc_id", Curation.redactPii($"text").as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got(1L) == "mail <EMAIL> or <IP> tel <PHONE> ok")
    assert(got(2L) == "no pii here at all")
    assert(got(3L) == "version 1.222.333.4445 is not an ip")
  }

  test("null handling: drift/quantile exclude null values; snapshotDiff and outlierReport keep null rows truthful") {
    // driftReport: nulls must NOT inflate the top open-end bucket
    val ref = Seq(1.0, 2.0, 15.0).toDF("v")
    val curNulls = Seq(Some(1.0), Some(2.0), Some(15.0), None, None).toDF("v")
    val drift = Curation.driftReport(ref, curNulls, "v", Seq(10.0))
      .orderBy("bucket").select("ref_n", "cur_n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(drift == Seq((2L, 2L), (1L, 1L))) // identical histograms, PSI 0
    // quantileNormalize: null value -> NULL percentile, row kept
    val qn = Curation.quantileNormalize(
        Seq((1L, Some(1.0)), (2L, Some(20.0)), (3L, None)).toDF("doc_id", "v"),
        "doc_id", "v", Seq(10.0))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(3)) None else Some(r.getLong(3))))
    assert(qn(2) == ((3L, None)) && qn(0)._2.isDefined)
    // snapshotDiff: a null-text doc only in OLD is REMOVED (md5(null) is
    // null — presence must come from markers, not fingerprint nullness)
    val diff = Curation.snapshotDiff(
        Seq((1L, null: String), (2L, "same")).toDF("doc_id", "text"),
        Seq((2L, "same"), (3L, null: String)).toDF("doc_id", "text"),
        "doc_id", "text")
      .orderBy("doc_id").select("status").collect().map(_.getString(0)).toSeq
    assert(diff == Seq("removed", "unchanged", "added"))
    // outlierReport: null-stratum rows survive; null values flag false
    val outliers = Curation.outlierReport(
        Seq((1L, "a", Some(1.0)), (2L, "a", Some(1.0)), (3L, null, Some(99.0)),
          (4L, "a", None)).toDF("doc_id", "grp", "v"),
        "doc_id", "grp", col("v"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getBoolean(6)))
    assert(outliers.length == 4) // the null-stratum row is present
    assert(outliers.forall(!_._2)) // and nothing (incl. null value) flags
  }

  test("contaminationReportWithIndex refuses a gram-width mismatch") {
    val base = graft.TestScratch.dir("graft-benchidx")
    val bench = Seq((100L, "a b c d e f g h")).toDF("bench_id", "text")
    Curation.saveBenchmarkIndex(bench, "text", n = 3, s"$base/idx")
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Curation.contaminationReportWithIndex(docs, "doc_id", "text",
        s"$base/idx", n = 13).collect()
    }
    assert(e.getMessage.contains("n=3"))
    // matching n works and finds the contamination
    val ok = Curation.contaminationReportWithIndex(docs, "doc_id", "text",
        s"$base/idx", n = 3)
      .select("matched_grams").head().getLong(0)
    assert(ok == 2L) // 'a b c' and 'b c d'
  }

  test("plan shapes: benchmark/stop-list joins broadcast; top-k avoids global sort") {
    val docs = Seq((1L, "a b c d e f g h"), (2L, "x y z w v u t s"))
      .toDF("doc_id", "text")
    // contamination report: the bench gram set ships inside the
    // GramMatchStats expression, so the corpus side is a zero-shuffle
    // projection — no join and no exchange anywhere (round-13 rewrite of
    // the composed-chain ladder's dominant stage)
    val rangeContam = spark.range(4).select(col("id").as("doc_id"),
      concat(lit("a b c d"), col("id").cast("string")).as("text"))
    val contamPlan = Curation.contaminationReport(rangeContam, "doc_id",
        "text", docs.limit(1), "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(!contamPlan.contains("Exchange") &&
        !contamPlan.toLowerCase.contains("join"),
      s"contamination report must be a zero-shuffle projection:\n$contamPlan")
    assert(contamPlan.toLowerCase.contains("grammatchstats"),
      s"report must run through the codegen expression:\n$contamPlan")
    // decontaminate: "not contaminated" is the same row-local statistic —
    // a pure filter, not an anti-join of the corpus against its own
    // contaminated-id frame (which planned as a corpus-shuffling SMJ)
    val deconPlan = Curation.decontaminate(rangeContam, "doc_id", "text",
        docs.limit(1), "text", n = 2)
      .queryExecution.executedPlan.toString
    assert(!deconPlan.contains("Exchange") &&
        !deconPlan.toLowerCase.contains("join"),
      s"decontaminate must be a zero-shuffle filter:\n$deconPlan")
    // quality filter: every signal is row-local — one scan-stage
    // projection, no self-join of two per-doc projections
    val qualityPlan = Curation.qualityFilter(rangeContam, "doc_id", "text",
        separator = " ")
      .queryExecution.executedPlan.toString
    assert(!qualityPlan.contains("Exchange") &&
        !qualityPlan.toLowerCase.contains("join"),
      s"qualityFilter must be a zero-shuffle projection:\n$qualityPlan")
    // broadcast-boiler default: the OUTPUT plan is a pure projection —
    // the boiler set ships inside the StripBoilerplate expression, so no
    // join and no exchange may appear anywhere in the strip pass. A
    // range-backed frame keeps ConvertToLocalRelation from folding the
    // projection away before the assert can see it.
    val rangeDocs = spark.range(4).select(col("id").as("doc_id"),
      concat(lit("h x"), col("id").cast("string")).as("text"))
    val stripPlan = Curation.stripBoilerplate(rangeDocs, "doc_id", "text", " ", 2)
      .queryExecution.executedPlan.toString
    assert(!stripPlan.contains("Exchange") && !stripPlan.toLowerCase.contains("join"),
      s"broadcast-boiler strip must be a zero-shuffle projection:\n$stripPlan")
    assert(stripPlan.toLowerCase.contains("stripboilerplate"),
      s"strip pass must run through the codegen expression:\n$stripPlan")
    // unbounded fallback keeps the stop-list IN the plan as an anti-join
    val shufflePlan = Curation.stripBoilerplateShuffle(
        docs, "doc_id", "text", " ", Left(2L))
      .queryExecution.executedPlan.toString
    assert(shufflePlan.contains("BroadcastHashJoin") && shufflePlan.contains("LeftAnti"),
      s"boilerplate stop-list must broadcast into an anti-join:\n$shufflePlan")
    val vocabPlan = Curation.vocabulary(docs, "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject, not a global sort:\n$vocabPlan")
  }

  test("chunkDocuments: overlap, tail clamping, empty docs skipped") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7"), // 7 tokens: chunks at 0, 3, 6
      (2L, "a b"), // shorter than one chunk
      (3L, "")) // no tokens -> no chunks
      .toDF("doc_id", "text")
    val got = Curation.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L), // overlap of 1 token with chunk 0
      (1L, 2L, "t7", 1L), // clamped tail
      (2L, 0L, "a b", 2L)))
  }

  test("mixtureReport: per-stratum counts and fractions sum to 1") {
    val docs = Seq(
      ("s1", "en", "a b c"), ("s1", "en", "d e"), ("s1", "de", "f"),
      ("s2", "en", "g h i j"))
      .toDF("source", "lang", "text")
    val rows = Curation.mixtureReport(docs, "text", Seq("source", "lang"))
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    assert(rows(("s1", "en")) == ((2L, 5L, 0.5, 0.5)))
    assert(rows(("s1", "de")) == ((1L, 1L, 0.25, 0.1)))
    assert(rows(("s2", "en")) == ((1L, 4L, 0.25, 0.4)))
    assert(math.abs(rows.values.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(rows.values.map(_._4).sum - 1.0) < 1e-9)
  }

  test("tfidfTopTerms: hand-computed scores, rank tie-break by token") {
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z z")).toDF("doc_id", "text")
    val got = Curation.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      .toSet
    // N=3; df: x=1, y=2, z=2; idf_x=ln(4/2), idf_y=idf_z=ln(4/3)
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(got == Set(
      (1L, "x", r6(2 * math.log(2.0)), 1L),
      (1L, "y", r6(math.log(4.0 / 3)), 2L),
      (2L, "y", r6(math.log(4.0 / 3)), 1L), // tie with z broken by token
      (2L, "z", r6(math.log(4.0 / 3)), 2L),
      (3L, "z", r6(3 * math.log(4.0 / 3)), 1L)))
  }

  test("tfidf df-cut: stop list reported, cut tokens excluded, broadcast plan") {
    val docs = Seq((1L, "x x y"), (2L, "y z"), (3L, "z z z")).toDF("doc_id", "text")
    // maxDfShare=0.5 with N=3 cuts tokens in more than 1.5 docs: y and z (df=2).
    val (top, stop) = Curation.tfidfTopTermsWithStopList(
      docs, "doc_id", "text", k = 2, maxDfShare = 0.5)
    val stopGot = stop.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stopGot == Set(("y", 2L), ("z", 2L)))
    val topGot = top.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(topGot == Set((1L, "x"))) // only x (df=1) survives the cut
    // The scoring join must broadcast the vocabulary-sized df table.
    assert(top.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // Default share of 1.0 cuts nothing and matches the original contract.
    val (_, stopDefault) = Curation.tfidfTopTermsWithStopList(docs, "doc_id", "text", k = 2)
    assert(stopDefault.count() == 0L)
  }

  test("corpusStats: one-row card with distinct-content count") {
    val docs = Seq((1L, "a b"), (2L, "A  b"), (3L, "cdefg")).toDF("doc_id", "text")
    val r = Curation.corpusStats(docs, "text").collect()(0)
    // docs 1 and 2 normalize identically; "cdefg" is ceil(5/4)=2 BPE units
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 5L, 6L, 2L)))
  }

  test("vocabulary: frequency-ordered top-k with token tie-break") {
    val docs = Seq((1L, "a B a"), (2L, "b c")).toDF("doc_id", "text")
    val got = Curation.vocabulary(docs, "text", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // lowercased: a=2, b=2, c=1; ties break by token ascending
    assert(got == Seq(("a", 2L), ("b", 2L)))
  }

  test("persisted benchmark index ≡ direct contaminationReport") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter($"doc_id" < 10)
    val idx = graft.TestScratch.dir("graft_bench_idx") + "/grams"
    Curation.saveBenchmarkIndex(bench, "text", n = 6, idx)
    val direct = Curation.contaminationReport(
        docs.filter($"doc_id" >= 10), "doc_id", "text", bench, "text", n = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    val indexed = Curation.contaminationReportWithIndex(
        docs.filter($"doc_id" >= 10), "doc_id", "text", idx, n = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(indexed == direct)
    assert(indexed.exists(_._4)) // the fixture does contain collisions
  }

  test("streamingContaminationBlocklist ≡ batch contaminationReport") {
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val bench = docs.filter($"doc_id" < 10)
    val streamed = Curation.streamingContaminationBlocklist(
        spark, dir, "documents.parquet", "doc_id", "text", bench, "text",
        n = 6, streamFilter = $"doc_id" >= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Curation.contaminationReport(
        docs.filter($"doc_id" >= 10), "doc_id", "text", bench, "text", n = 6)
      .filter($"contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("update-mode contamination sink ≡ complete-mode ≡ batch on multi-batch input") {
    val base = graft.TestScratch.dir("graft-contam-upd")
    val docs = Seq((1L, "a b c d"), (2L, "x y z"), (3L, "a"), (4L, "c d e f"))
      .toDF("doc_id", "text")
    // Several part files + maxFilesPerTrigger=1 -> genuinely multi-batch.
    docs.repartition(3).write.mode("overwrite").parquet(s"$base/documents.parquet")
    val bench = Seq((100L, "b c d e")).toDF("bench_id", "text")
    val updated = Curation.streamingContaminationBlocklistUpdate(
        spark, s"$base/documents.parquet", "*.parquet", "doc_id", "text",
        bench, "text", sinkDir = s"$base/sink", checkpointDir = s"$base/ckpt",
        n = 2, nBuckets = 4, maxFilesPerTrigger = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val complete = Curation.streamingContaminationBlocklist(
        spark, s"$base/documents.parquet", "*.parquet", "doc_id", "text",
        bench, "text", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Curation.contaminationReport(docs, "doc_id", "text", bench, "text", n = 2)
      .filter($"contaminated")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(updated == batch)
    assert(complete == batch)
    assert(updated.nonEmpty)
    // The sink is keyed: one row per document id.
    val sink = graft.ops.Upsert.readKeyedParquet(spark, s"$base/sink")
    assert(sink.count() == sink.select("doc_id").distinct().count())
  }

  test("update-mode contamination sink on an UNCONTAMINATED corpus " +
      "returns an empty blocklist, not PATH_NOT_FOUND") {
    val base = graft.TestScratch.dir("graft-contam-clean")
    val docs = Seq((1L, "a b c d"), (2L, "x y z")).toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(s"$base/documents.parquet")
    // benchmark shares no 2-gram with the corpus: every micro-batch
    // aggregate is empty, so the upsert writer never creates the sink dir
    val bench = Seq((100L, "p q r s")).toDF("bench_id", "text")
    val updated = Curation.streamingContaminationBlocklistUpdate(
        spark, s"$base/documents.parquet", "*.parquet", "doc_id", "text",
        bench, "text", sinkDir = s"$base/sink", checkpointDir = s"$base/ckpt",
        n = 2, nBuckets = 4)
    assert(updated.columns.toSeq == Seq("doc_id", "matched_grams"))
    assert(updated.count() == 0L)
  }

  test("streamingAssembleSequences over a rowless stream returns an " +
      "empty frame, not PATH_NOT_FOUND") {
    val base = graft.TestScratch.dir("graft-assemble-empty")
    Seq.empty[(Long, Long, Long, String)]
      .toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(s"$base/events.parquet")
    val schema = spark.read.parquet(s"$base/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(s"$base/events.parquet")
    val out = Curation.streamingAssembleSequences(stream, "user_id", "ts",
      "event_id", "event_type", sep = ">", sinkDir = s"$base/sink",
      checkpointDir = s"$base/ckpt", nBuckets = 4)
    assert(out.columns.toSeq == Seq("user_id", "n_items", "sequence"))
    assert(out.count() == 0L)
  }

  test("packSequences: per-shard prefix sums, straddling docs span sequences") {
    val docs = Seq(
      ("s1", 1L, 3L), ("s1", 2L, 4L), ("s1", 3L, 2L), ("s1", 4L, 0L),
      ("s2", 5L, 5L))
      .toDF("source", "doc_id", "n")
    val got = Curation.packSequences(docs, "doc_id", col("n"), "source", seqLen = 4)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    // s1: doc1 [0,3) -> seq 0; doc2 [3,7) -> seqs 0,1; doc3 [7,9) -> seqs 1,2;
    // doc4 has 0 tokens -> omitted. s2 restarts offsets: doc5 [0,5) -> seqs 0,1.
    assert(got == Set(
      ("s1", 1L, 0L, 3L, 0L),
      ("s1", 2L, 3L, 7L, 0L), ("s1", 2L, 3L, 7L, 1L),
      ("s1", 3L, 7L, 9L, 1L), ("s1", 3L, 7L, 9L, 2L),
      ("s2", 5L, 0L, 5L, 0L), ("s2", 5L, 0L, 5L, 1L)))
  }

  test("packSequences: every sequence's token budget is respected") {
    // Randomized-ish check: token interval of each (doc, seq) row must
    // overlap [seq*L, (seq+1)*L), and per-shard intervals must tile
    // [0, total) contiguously in doc order.
    val docs = (1L to 50L).map(i => ("s" + (i % 3), i, (i * 7 % 11)))
      .toDF("source", "doc_id", "n")
    val L = 16L
    val rows = Curation.packSequences(docs, "doc_id", col("n"), "source", L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.foreach { case (_, _, s, e, q) =>
      assert(s < e)
      assert(math.max(s, q * L) < math.min(e, (q + 1) * L),
        s"doc interval [$s,$e) must overlap seq $q")
    }
    rows.groupBy(_._1).foreach { case (_, shard) =>
      val spans = shard.map(t => (t._2, t._3, t._4)).distinct.sortBy(_._1)
      spans.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(e1 == s2)
        case _ =>
      }
      assert(spans.head._2 == 0L)
    }
  }

  test("qualityFilter: first-failed-rule audit order, clean docs kept") {
    val clean = "the quick brown fox jumps over the lazy dog and runs to " +
      "the river where it rests in the shade of an old tree for a while"
    val docs = Seq(
      (1L, clean), // passes every rule
      (2L, "short text"), // too_few_tokens fires first
      // 20 tokens but each is punctuation-heavy: too_few passes, then
      // word_length (mean len 1.0 < 2.0) outranks punctuation in the chain
      (3L, Seq.fill(20)("!").mkString(" ")),
      // enough tokens, sane words, no English stopwords -> 'stopwords'
      (4L, (1 to 20).map(i => s"wort$i").mkString(" ")),
      // stopword-bearing but one segment repeated -> 'repeated_segments'
      (5L, Seq.fill(20)("the cat").mkString(" ") + " extra words here"))
      .toDF("doc_id", "text")
    val byId = Curation.qualityFilter(docs, "doc_id", "text", separator = " ")
      .select("doc_id", "keep", "reason")
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), Option(r.getString(2)))))
      .toMap
    assert(byId(1L) == ((true, None)))
    assert(byId(2L) == ((false, Some("too_few_tokens"))))
    assert(byId(3L) == ((false, Some("word_length"))))
    assert(byId(4L) == ((false, Some("stopwords"))))
    assert(byId(5L) == ((false, Some("repeated_segments"))))
  }

  test("sampleToTokenBudget: keep-whole, proportional cut, absent strata dropped") {
    val docs = (1L to 400L).map { i =>
      (i, "s" + (i % 4), 10L) // 4 strata × 100 docs × 10 tokens = 1000 each
    }.toDF("doc_id", "source", "n_tok")
    val out = Sampling.sampleToTokenBudget(docs, "doc_id", "source", "n_tok",
      budget = 1000L, weights = Seq("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.05))
      .select("doc_id", "source").collect()
    val bySrc = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    // s0: cut = 1000*2*4096/1000 = 8192 >= 4096 -> all 100 kept
    assert(bySrc("s0") == 100)
    // s1: cut 2048/4096 -> ~half kept, deterministically by md5(doc_id)
    assert(bySrc("s1") > 25 && bySrc("s1") < 75)
    // s2: cut 204/4096 -> ~5% kept
    assert(bySrc.getOrElse("s2", 0) < 25)
    // s3 has no weight -> dropped entirely
    assert(!bySrc.contains("s3"))
    // deterministic: the same call selects the identical row set
    val again = Sampling.sampleToTokenBudget(docs, "doc_id", "source", "n_tok",
      budget = 1000L, weights = Seq("s0" -> 2.0, "s1" -> 0.5, "s2" -> 0.05))
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_.getLong(0)).toSet)
  }

  test("shuffledShards: complete cover, contiguous ranks, seed changes order") {
    val docs = (1L to 200L).toDF("doc_id")
    val out = Sampling.shuffledShards(docs, "doc_id", numShards = 8, seed = 1L)
      .select("doc_id", "shard", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(out.length == 200 && out.map(_._1).distinct.length == 200)
    assert(out.forall { case (_, s, _) => s >= 0 && s < 8 })
    // within each shard, ranks are exactly 1..count (a dense total order)
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length))
    }
    // the order is a pure function of (seed, id): stable across re-runs...
    val again = Sampling.shuffledShards(docs, "doc_id", numShards = 8, seed = 1L)
      .select("doc_id", "shard", "shard_pos")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(again.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
    // ...and a different seed produces a genuinely different visit order
    val other = Sampling.shuffledShards(docs, "doc_id", numShards = 8, seed = 2L)
      .orderBy("shard", "shard_pos").select("doc_id").as[Long].collect().toSeq
    val first = Sampling.shuffledShards(docs, "doc_id", numShards = 8, seed = 1L)
      .orderBy("shard", "shard_pos").select("doc_id").as[Long].collect().toSeq
    assert(other != first)
  }

  test("assembleSequences: deterministic order, tie-break, maxItems cap") {
    val rows = Seq(
      (1L, 3L, 30L, "c"), (1L, 1L, 10L, "a"), (1L, 2L, 20L, "b"),
      (1L, 2L, 15L, "x"), // same order value as "b", lower tie -> before b
      (2L, 5L, 50L, "solo")).toDF("user_id", "ord", "tie", "ev")
    val got = Curation.assembleSequences(rows, "user_id", "ord", "tie", "ev",
        sep = ">")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == Set((1L, 4L, "a>x>b>c"), (2L, 1L, "solo")))
    // the cap keeps each key's FIRST items by the same order
    val capped = Curation.assembleSequences(rows, "user_id", "ord", "tie", "ev",
        sep = ">", maxItems = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(capped == Set((1L, 2L, "a>x"), (2L, 1L, "solo")))
    // deterministic under re-partitioning
    val shuffled = Curation.assembleSequences(rows.repartition(7), "user_id",
        "ord", "tie", "ev", sep = ">")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(shuffled == got)
  }

  test("streaming sequence assembly ≡ batch on multi-batch input") {
    val base = graft.TestScratch.dir("graft-seq-stream")
    // rows of one key deliberately scattered across part files so batches
    // split mid-sequence — the merge sink must re-sort accumulated state
    val rows = (1L to 120L).map(i => (i % 10, i, i * 7 % 13, "e" + (i % 5)))
      .toDF("user_id", "ord", "tie", "ev")
    rows.repartition(4).write.mode("overwrite").parquet(s"$base/rows.parquet")
    val schema = spark.read.parquet(s"$base/rows.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/rows.parquet")
    val got = Curation.streamingAssembleSequences(stream, "user_id", "ord",
        "tie", "ev", sep = ">", sinkDir = s"$base/sink",
        checkpointDir = s"$base/ckpt", nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val want = Curation.assembleSequences(rows, "user_id", "ord", "tie", "ev",
        sep = ">")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(got == want)
    assert(got.nonEmpty && got.forall(_._2 == 12))
  }

  test("outlierReport: median/MAD flags the planted anomaly, zero-MAD strata flag nothing") {
    // s0: lengths 100±small with one planted 10× doc; s1: all-identical
    // lengths (MAD 0 -> null z, nothing flagged, not even the constant).
    val docs = ((1L to 20L).map(i => (i, "s0", 100L + (i % 5))) ++
      Seq((21L, "s0", 1000L)) ++
      (31L to 40L).map(i => (i, "s1", 50L))).toDF("doc_id", "source", "len")
    val out = Curation.outlierReport(docs, "doc_id", "source", $"len",
        valueName = "len")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.isNullAt(5), r.getBoolean(6)))).toMap
    assert(out(21L)._3, "planted 10x doc must flag")
    assert((1L to 20L).forall(!out(_)._3), "inliers must not flag")
    assert((31L to 40L).forall(i => out(i)._2 && !out(i)._3),
      "zero-MAD stratum yields null z and no flags")
    // median of 21 values in s0 is an element (odd count): robust check
    // that the planted outlier did not drag the yardstick
    val med = Curation.outlierReport(docs, "doc_id", "source", $"len", "len")
      .filter($"source" === "s0").select("med").head().getDouble(0)
    assert(med >= 100.0 && med <= 105.0)
  }

  test("topPerGroup: bounded top-k aggregate equals the rank-window answer") {
    val docs = (1L to 200L).map { i =>
      (i, "g" + (i % 5), (i * 37 % 11).toDouble) // deliberately many ties
    }.toDF("doc_id", "grp", "score")
    val got = Sampling.topPerGroup(docs, "doc_id", "grp", "score", k = 4)
      .select("doc_id", "grp", "score", "rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    // differential: the window formulation is the semantic definition
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"grp").orderBy($"score".desc, $"doc_id".asc)
    val want = docs.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 4)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got == want)
    assert(got.size == 20) // 5 groups × 4
    // k larger than the group keeps every row, densely ranked
    val small = Seq((1L, "g", 2.0), (2L, "g", 1.0)).toDF("doc_id", "grp", "score")
    val all = Sampling.topPerGroup(small, "doc_id", "grp", "score", k = 10)
      .select("doc_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(all == Set((1L, 1), (2L, 2)))
    // plan shape: the bounded aggregate, not a rank window (no full
    // per-group sort of the corpus), and a broadcast winner join
    val plan = Sampling.topPerGroup(docs, "doc_id", "grp", "score", k = 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("collect_top_k"))
    assert(!plan.contains("Window"))
    assert(plan.contains("BroadcastHashJoin"))
    // null-score contract: null rows never win, even in a group with
    // fewer than k non-null rows (unfiltered, the negated struct would
    // order nulls first and hand them the top ranks)
    val withNulls = Seq(
      (1L, "g", Some(2.0)), (2L, "g", None), (3L, "g", Some(5.0)), (4L, "g", None))
      .toDF("doc_id", "grp", "score")
    val ranked = Sampling.topPerGroup(withNulls, "doc_id", "grp", "score", k = 3)
      .select("doc_id", "rank").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(ranked == Set((3L, 1), (1L, 2)))
  }

  test("outlierReport plan: stat tables broadcast back — no corpus-side sort-merge join") {
    val docs = (1L to 500L).map(i => (i, "s" + (i % 4), 50L + i % 7))
      .toDF("doc_id", "source", "len")
    val plan = Curation.outlierReport(docs, "doc_id", "source", $"len", "len")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val old = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
      .toDF("doc_id", "text")
    val nw = Seq((2L, "beta"), (3L, "gamma EDITED"), (4L, "delta"))
      .toDF("doc_id", "text")
    val got = Curation.snapshotDiff(old, nw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
    // fingerprints are null exactly on the absent side
    val fps = Curation.snapshotDiff(old, nw, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.isNullAt(2), r.isNullAt(3))).toSet
    assert(fps == Set((1L, false, true), (2L, false, false),
      (3L, false, false), (4L, true, false)))
  }

  test("snapshotDiff plan: shuffle carries fingerprints, not text") {
    val old = (1L to 100L).map(i => (i, "body " * 50 + i)).toDF("doc_id", "text")
    val nw = (51L to 150L).map(i => (i, "body " * 50 + i)).toDF("doc_id", "text")
    val plan = Curation.snapshotDiff(old, nw, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the join inputs project (id, md5) before the exchange — the text
    // column must not appear in any exchange's output attributes
    val exchanges = plan.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(_.contains("text")),
      s"document text crossed the shuffle:\n$plan")
  }

  test("percentileGate keeps ceil(fraction × n) per stratum with deterministic ties") {
    // stratum a: 5 rows, scores 10,9,8,8,1 → keep ceil(0.25×5)=2 (ids 1,2)
    // stratum b: 2 rows → keep ceil(0.5)=1; tie on score broken by lower id
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 9L), (3L, "a", 8L), (4L, "a", 8L), (5L, "a", 1L),
      (6L, "b", 7L), (7L, "b", 7L)
    ).toDF("doc_id", "source", "score")
    val kept = Sampling.percentileGate(df, "doc_id", "source", "score", 0.25)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(4))).toList.sorted
    assert(kept == List((1L, 1, 5L), (2L, 2, 5L), (6L, 1, 2L)))
    // keepFraction = 1 keeps everything
    assert(Sampling.percentileGate(df, "doc_id", "source", "score", 1.0)
      .count() == 7)
  }

  test("temperatureMixture: alpha=1 matches natural shares; alpha=0 equalizes targets") {
    // stratum big: 40 rows × 100 tokens = 4000; small: 10 × 100 = 1000
    val df = ((1L to 40L).map(i => (i, "big", 100L)) ++
      (101L to 110L).map(i => (i, "small", 100L)))
      .toDF("doc_id", "source", "n_tokens")
    def keptTokens(alpha: Double, budget: Long): Map[String, Long] =
      Sampling.temperatureMixture(df, "doc_id", "source", "n_tokens",
          budget, alpha)
        .groupBy("source").agg(sum("n_tokens").as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // alpha=1: natural proportions — cut = budget×share×4096/tokens is the
    // SAME fraction for every stratum (budget/total), so both strata thin
    // at one rate. budget=2500 of 5000 → cut 2048/4096 ≈ half.
    val nat = keptTokens(1.0, 2500L)
    assert(nat.getOrElse("big", 0L) > nat.getOrElse("small", 0L),
      s"natural mixing must keep more of the bigger stratum: $nat")
    // alpha=0: equal weights (0.5 each) — target tokens per stratum equal
    // (1250 each): the small stratum keeps a LARGER fraction of itself
    // than the big one (tail up-weighting), here kept whole (cut ≥ 4096).
    val uni = keptTokens(0.0, 2500L)
    assert(uni("small") == 1000L, s"under-budget stratum must keep whole: $uni")
    assert(uni("big").toDouble / 4000 < 0.5, s"big stratum must thin: $uni")
    // determinism: same call twice selects the identical row set
    val a = Sampling.temperatureMixture(df, "doc_id", "source", "n_tokens",
      2500L, 0.5).select("doc_id").as[Long].collect().toSet
    val b = Sampling.temperatureMixture(df, "doc_id", "source", "n_tokens",
      2500L, 0.5).select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("bpeTrainMerges learns the classic Sennrich merge sequence") {
    // word frequencies: low×5 lower×2 newest×6 widest×3 — the canonical
    // BPE walkthrough. Hand-derived first five merges:
    //   (e,s)=9   [newest 6 + widest 3; ties (s,t),(t,</w>) broken lexicographically]
    //   (es,t)=9  [the merged symbol chains]
    //   (est,</w>)=9
    //   (l,o)=7   [low 5 + lower 2; tie (o,w) broken lexicographically]
    //   (lo,w)=7
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val merges = Curation.bpeTrainMerges(docs, "text", numMerges = 5)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(merges.toList == List(
      (1, "e", "s", 9L), (2, "es", "t", 9L), (3, "est", "</w>", 9L),
      (4, "l", "o", 7L), (5, "lo", "w", 7L)))
  }

  test("bpeTrainMerges: greedy rewrite is non-overlapping left-to-right") {
    // 'aaaa' under merge (a,a) must become [aa, aa, </w>] (three a-pairs
    // collapse to two non-overlapping merges), and 'aaa' → [aa, a, </w>] —
    // overlap handling is what separates BPE from naive replace.
    val docs = Seq((1L, "aaaa aaaa aaa")).toDF("doc_id", "text")
    val merges = Curation.bpeTrainMerges(docs, "text", numMerges = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    // round 1: (a,a) = 2×3 + 1×2 = 8; round 2 candidates: (aa,aa)=2,
    // (aa,</w>)=2, (aa,a)=1, (a,</w>)=1 → tie at 2 broken on the RIGHT
    // symbol: '</w>' < 'aa', so (aa,</w>) wins — which only holds if the
    // round-1 rewrite produced [aa, aa, </w>], not [aa, a, a, </w>].
    assert(merges.toList == List((1, "a", "a", 8L), (2, "aa", "</w>", 2L)))
  }

  test("bpeTrainMerges: local two-phase path is bit-identical to distributed") {
    // Mixed tie-breaks, repeated chars, and a multi-word corpus — the
    // shapes where the local argmax/rewrite could diverge if its ordering
    // or overlap handling differed from the distributed fold.
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest") ++
      Seq.fill(4)("aaaa") ++ Seq.fill(2)("banana")).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    def run(limit: Long) =
      Curation.bpeTrainMerges(docs, "text", numMerges = 10,
          localVocabLimit = limit)
        .orderBy("rank").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toList
    val distributed = run(0L)
    val local = run(1000000L)
    assert(local === distributed)
    assert(distributed.size === 10)
  }

  test("bpeTrainMerges: localVocabLimit smaller than the vocab stays distributed") {
    val docs = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val out = Curation.bpeTrainMerges(docs, "text", numMerges = 2,
        localVocabLimit = 1L)  // vocab has 2 words > 1 -> distributed path
      .orderBy("rank").collect()
    assert(out.length === 2)
  }

  test("excisePassages: misaligned benchmark quotes are caught; clean docs pass through") {
    // bench passage 'SECRETBENCHTEXT!' (16 chars). Doc 1 embeds it at an
    // offset NOT divisible by the corpus stride 4 — bench-side stride-1
    // windows still catch the aligned corpus window inside it.
    val bench = Seq((100L, "xxSECRETBENCHTEXT!xx")).toDF("bid", "text")
    val docs = Seq(
      (1L, "abcdeSECRETBENCHTEXT!rest of doc"),
      (2L, "totally unrelated content here")).toDF("doc_id", "text")
    val out = Curation.excisePassages(docs, "doc_id", "text", bench, "text",
        spanLen = 8, stride = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 2 untouched
    assert(out(2L) == ("totally unrelated content here", 0L))
    // doc 1: some contaminated window(s) excised; the passage core is gone
    assert(out(1L)._2 > 0)
    assert(!out(1L)._1.contains("SECRETBENCHTEXT!"))
    // and text outside the excised region survives
    assert(out(1L)._1.startsWith("abcde") || out(1L)._1.nonEmpty)
  }

  test("excisePassages with stride 1 on both sides removes the exact passage span") {
    val bench = Seq((100L, "SECRETBENCHTEXT!")).toDF("bid", "text")
    val docs = Seq((1L, "abcdeSECRETBENCHTEXT!fghij")).toDF("doc_id", "text")
    val out = Curation.excisePassages(docs, "doc_id", "text", bench, "text",
        spanLen = 8, stride = 1)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    // every 8-char window inside the 16-char passage matches; their union
    // is exactly the passage -> clean text is the two flanks
    assert(out == ("abcdefghij", 16L))
  }

  test("importanceWeights: target = whole corpus gives exactly zero everywhere") {
    // p_target == p_raw when every row is target -> every log ratio is 0.
    val docs = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b d"))
      .toDF("doc_id", "text")
    val got = Curation.importanceWeights(docs, "doc_id", "text", lit(true))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 3)
    assert(got.forall(_._3 == 0.0))
  }

  test("importanceWeights: hand-computed add-one ratios; target-like docs score higher") {
    // target = doc 1 only. raw counts: a:3 b:1, T_r=4, V=2.
    // target counts: a:2 b:0?? -> doc1 = 'a a b': ct(a)=2, ct(b)=1, T_t=3.
    val docs = Seq((1L, "a a b"), (2L, "a")).toDF("doc_id", "text")
    val got = Curation.importanceWeights(docs, "doc_id", "text",
        col("doc_id") === 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val (tt, tr, v) = (3.0, 4.0, 2.0)
    def lr(ct: Double, cr: Double): Double =
      math.log((ct + 1) / (tt + v)) - math.log((cr + 1) / (tr + v))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: (2*lr(a) + 1*lr(b)) / 3 with ct(a)=2 cr(a)=3, ct(b)=1 cr(b)=1
    assert(got(1L)._1 == 3L)
    assert(got(1L)._2 == r6((2 * lr(2, 3) + lr(1, 1)) / 3))
    // doc2: lr(a) / 1
    assert(got(2L)._2 == r6(lr(2, 3)))
  }

  test("qualityMargin: hand-computed fixed-order margin and keep threshold") {
    val docs = Seq((1L, Seq.fill(20)("word").mkString(" ") + " the of to is"))
      .toDF("doc_id", "text")
    val got = Curation.qualityMargin(docs, "doc_id", "text",
        weights = Seq(0.01, 0.0, 0.0, 0.0, 0.0, 0.0), bias = -0.2,
        separator = " ")
      .select("n_tokens", "margin", "keep").collect().head
    // 24 tokens * 0.01 - 0.2 = 0.04 -> keep
    assert(got.getInt(0) == 24)
    assert(got.getDouble(1) == 0.04)
    assert(got.getBoolean(2))
    val neg = Curation.qualityMargin(docs, "doc_id", "text",
        weights = Seq(0.01, 0.0, 0.0, 0.0, 0.0, 0.0), bias = -0.5,
        separator = " ")
      .select("margin", "keep").collect().head
    assert(neg.getDouble(0) == -0.26 && !neg.getBoolean(1))
  }

  test("temperatureMixture plan: corpus never shuffles — totals broadcast back") {
    val df = (1L to 400L).map(i => (i, "s" + (i % 3), 50L))
      .toDF("doc_id", "source", "n_tokens")
    val plan = Sampling.temperatureMixture(df, "doc_id", "source", "n_tokens",
        5000L, 0.5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("bpeEncode: Sennrich walkthrough — merges replay in rank order per word") {
    val docs = Seq((1L, "lower lowest"), (2L, "")).toDF("doc_id", "text")
    val got = Curation.bpeEncode(docs, "doc_id", "text",
        merges = Seq(("l", "o"), ("lo", "w"), ("e", "r")))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[String](1), r.getLong(2))).toMap
    // lower: l o w e r </w> -> lo -> low -> er => [low, er, </w>]
    // lowest: l o w e s t </w> -> lo -> low (e,r absent) => [low, e, s, t, </w>]
    assert(got(1L)._1 == Seq("low", "er", "</w>", "low", "e", "s", "t", "</w>"))
    assert(got(1L)._2 == 8L)
    assert(got(2L)._1 == Seq.empty && got(2L)._2 == 0L)
  }

  test("bpeEncode: greedy rewrite is non-overlapping and encode matches a naive replay") {
    // "aaa" under (a,a) -> [aa, a, </w>]; under then (aa,a) -> [aaa, </w>]
    val docs = Seq((1L, "aaa aaaa")).toDF("doc_id", "text")
    val got = Curation.bpeEncode(docs, "doc_id", "text",
        merges = Seq(("a", "a"), ("aa", "a")))
      .collect().head.getSeq[String](1)
    // aaa: a a a </w> -> (a,a) left-to-right: [aa, a] -> (aa,a): [aaa]
    // aaaa: [aa, aa] -> (aa,a) needs symbol 'a' AFTER 'aa' — absent
    assert(got == Seq("aaa", "</w>", "aa", "aa", "</w>"))
    // naive Scala replay over distinct words agrees on the real corpus shape
    def applyMerge(syms: List[String], l: String, r: String): List[String] =
      syms match {
        case a :: b :: rest if a == l && b == r => (l + r) :: applyMerge(rest, l, r)
        case a :: rest => a :: applyMerge(rest, l, r)
        case Nil => Nil
      }
    val merges = Seq(("t", "h"), ("th", "e"), ("e", "r"))
    val words = Seq("the", "ther", "threther", "x")
    val docs2 = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got2 = Curation.bpeEncode(docs2, "doc_id", "text", merges)
      .collect().head.getSeq[String](1)
    val want = words.flatMap { w =>
      merges.foldLeft(w.map(_.toString).toList :+ "</w>") {
        case (s, (l, r)) => applyMerge(s, l, r)
      }
    }
    assert(got2 == want)
  }

  test("redactPatterns: rule-ordered audit counts; email digits never leak to the number rule") {
    val docs = Seq(
      (1L, "mail user1234567@ex.org ip 10.0.0.1 ref 76543210 end"),
      (2L, "clean text")).toDF("doc_id", "text")
    val got = Curation.redactPatterns(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = got(1L)
    // email rule runs FIRST, so its 7-digit run is consumed by <EMAIL> and
    // only the standalone ref number reaches the number rule.
    assert(r1.getString(1) == "mail <EMAIL> ip <IP> ref <NUM> end")
    assert(r1.getInt(2) == 1 && r1.getInt(3) == 1 && r1.getInt(4) == 1)
    assert(r1.getInt(5) == 3)
    assert(got(2L).getString(1) == "clean text" && got(2L).getInt(5) == 0)
  }

  test("redactPatterns: caller-supplied policy, multiple hits counted") {
    val docs = Seq((1L, "agent smith met agent jones")).toDF("doc_id", "text")
    val got = Curation.redactPatterns(docs, "doc_id", "text",
      rules = Seq(("agent", "\\bagent [a-z]+", "<AGENT>"))).collect().head
    assert(got.getString(1) == "<AGENT> met <AGENT>")
    assert(got.getInt(2) == 2 && got.getInt(3) == 2)
  }

  test("prioritySample: selection replays the md5 priority arithmetic; zero/null weights never win") {
    val rows = (1L to 200L).map(i =>
      (i, if (i % 50 == 0) Some(0L) else if (i == 7L) None else Some(i)))
    val df = rows.toDF("doc_id", "w")
    val got = Sampling.prioritySample(df, "doc_id", "w", 20)
      .select("doc_id").as[Long].collect().toSet
    val expected = rows.collect { case (i, Some(w)) if w > 0 =>
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
      val hex = digest.map("%02x".format(_)).mkString.substring(0, 8)
      val u = java.lang.Long.parseLong(hex, 16)
      (i, w.toDouble / (u + 1L).toDouble)
    }.sortBy { case (id, p) => (-p, id) }.take(20).map(_._1).toSet
    assert(got == expected)
    // weight-proportional inclusion: the linear-weight corpus's winners
    // skew heavy — their mean weight clears the corpus mean comfortably.
    assert(got.sum.toDouble / got.size > 100.5)
  }

  test("prioritySample plan: TakeOrderedAndProject, no global sort exchange") {
    val df = (1L to 500L).map(i => (i, i)).toDF("doc_id", "w")
    val plan = Sampling.prioritySample(df, "doc_id", "w", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  test("null-group rows survive the per-group samplers; fraction 0 keeps NOTHING") {
    // a NULL group under n must keep every row (the null-safe join-back)
    val docs = Seq((1L, "a"), (2L, "a"), (3L, null), (4L, null))
      .toDF("doc_id", "grp")
    val kept = Sampling.perGroupSampleExact(docs, "doc_id", "grp", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L))
    val scored = Seq((1L, "a", 2.0), (2L, null, 9.0), (3L, null, 1.0))
      .toDF("doc_id", "grp", "score")
    val top = Sampling.topPerGroup(scored, "doc_id", "grp", "score", k = 1)
      .select("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(top == Set((1L, 1), (2L, 1))) // null group ranks like any other
    // fraction 0.0 must EXCLUDE the stratum entirely (the old >=1/4096
    // clamp leaked ~0.024% of a stratum the caller meant to drop)
    val many = (1L to 4000L).map(i => (i, if (i % 2 == 0) "keep" else "drop"))
      .toDF("doc_id", "grp")
    val out = Sampling.stratifiedHashSample(many, "doc_id", "grp",
      Seq(("drop", 0.0), ("keep", 1.0)))
    assert(out.filter($"grp" === "drop").count() == 0)
    assert(out.filter($"grp" === "keep").count() == 2000)
    // negative split fractions are a caller error, not a near-total split
    val e = intercept[IllegalArgumentException] {
      Sampling.assignSplit(many, "doc_id", Seq(("test", -0.1), ("val", 0.2)))
    }
    assert(e.getMessage.contains(">= 0"))
  }

  test("clusterAwareSplit: cluster members share a split; singletons match assignSplit") {
    val docs = (1L to 300L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 20L)).toDF("id_a", "id_b")
    val fractions = Seq("test" -> 0.3, "validation" -> 0.2)
    val m = Sampling.clusterAwareSplit(docs, "doc_id",
        Dedup.duplicateClusters(pairs), fractions)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(m(1L) == m(2L) && m(2L) == m(3L))
    assert(m(10L) == m(20L))
    val plain = Sampling.assignSplit(docs, "doc_id", fractions)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val clustered = Set(1L, 2L, 3L, 10L, 20L)
    (1L to 300L).filterNot(clustered).foreach(i => assert(m(i) == plain(i)))
    // all members hash the cluster MINIMUM, so the shared split is the
    // representative's plain assignment.
    assert(m(1L) == plain(1L) && m(10L) == plain(10L))
  }

  test("driftReport: hand-computed PSI terms, smoothing keeps empty buckets finite") {
    // edges 10, 20 → 3 buckets; ref: 2 in b0, 2 in b1, 0 in b2;
    // cur: 1 in b0, 1 in b1, 2 in b2 (drift into the tail).
    val ref = Seq(1.0, 5.0, 12.0, 15.0).toDF("v")
    val cur = Seq(3.0, 11.0, 25.0, 30.0).toDF("v")
    val got = Curation.driftReport(ref, cur, "v", Seq(10.0, 20.0))
      .orderBy("bucket").collect()
    assert(got.length == 3)
    def frac(n: Long) = (n + 0.5) / (4 + 0.5 * 3)
    val exp = Seq((0, 2L, 1L), (1, 2L, 1L), (2, 0L, 2L)).map {
      case (b, rn, cn) =>
        val (rf, cf) = (frac(rn), frac(cn))
        (b, rn, cn,
          BigDecimal(rf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(cf).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal((cf - rf) * math.log(cf / rf))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    got.zip(exp).foreach { case (r, (b, rn, cn, rf, cf, psi)) =>
      assert(r.getInt(0) == b)
      assert(r.getLong(3) == rn && r.getLong(4) == cn)
      assert(r.getDouble(5) == rf, s"ref_frac bucket $b")
      assert(r.getDouble(6) == cf, s"cur_frac bucket $b")
      assert(r.getDouble(7) == psi, s"psi bucket $b")
      assert(!r.getDouble(7).isNaN && !r.getDouble(7).isInfinite)
    }
    // bucket bounds: open ends are ±Infinity
    assert(got(0).getDouble(1).isNegInfinity && got(2).getDouble(2).isPosInfinity)
    // identical distributions → every psi_term is exactly 0
    val zero = Curation.driftReport(ref, ref, "v", Seq(10.0, 20.0))
      .agg(sum(abs(col("psi_term")))).collect()(0).getDouble(0)
    assert(zero == 0.0)
  }

  test("tokenizerFertilityReport: hand-computed fertility and compression") {
    val docs = Seq(
      (1L, "ab ab", "x", 5L),
      (2L, "cd", "y", 2L),
      (3L, "", "y", 0L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val got = Curation.tokenizerFertilityReport(docs, "doc_id", "text",
        "lang", col("n_chars"), merges = Seq(("a", "b")))
      .orderBy("lang").collect()
    // "ab" encodes [ab, </w>] (2 tokens); "cd" encodes [c, d, </w>] (3).
    // lang x: 2 words / 4 tokens / 5 chars; lang y: 1 word / 3 tokens /
    // 2 chars plus an empty doc (counted, contributes zeros).
    val x = got(0)
    assert((x.getString(0), x.getLong(1), x.getLong(2), x.getLong(3),
      x.getLong(4), x.getDouble(5), x.getDouble(6)) ==
      (("x", 1L, 2L, 5L, 4L, 2.0, 1.25)))
    val y = got(1)
    assert((y.getString(0), y.getLong(1), y.getLong(2), y.getLong(3),
      y.getLong(4), y.getDouble(5), y.getDouble(6)) ==
      (("y", 2L, 1L, 2L, 3L, 3.0, 0.666667)))
  }

  test("quantileNormalize: hand-computed ECDF with midpoint tails") {
    val df = (1L to 10L).map(i => (i, i)).toDF("doc_id", "v")
    val got = Curation.quantileNormalize(df, "doc_id", "v", Seq(3.0, 7.0))
      .collect().map(r => r.getLong(0) -> ((r.getInt(2), r.getLong(3)))).toMap
    // buckets: (-inf,3)={1,2} n=2; [3,7)={3..6} n=4; [7,inf)={7..10} n=4.
    assert(got(1L) == ((0, 100000L)))  // unbounded: (0 + 0.5*2)/10
    assert(got(5L) == ((1, 400000L)))  // (2 + ((5-3)/4)*4)/10
    assert(got(3L) == ((1, 200000L)))  // edge row: frac 0, continuous
    assert(got(8L) == ((2, 800000L)))  // unbounded: (6 + 0.5*4)/10
  }

  test("noveltyReport: unseen-gram fractions against a reference corpus") {
    val docs = Seq((1L, "a b c d"), (2L, "a b c"), (3L, "x y"))
      .toDF("doc_id", "text")
    val ref = Seq((10L, "a b c")).toDF("doc_id", "text")
    val got = Curation.noveltyReport(docs, "doc_id", "text", ref, "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
    // doc 1 grams {a b c, b c d}: "b c d" unseen -> 1/2.
    assert(got(1L) == ((2L, 1L, Some(500000L))))
    assert(got(2L) == ((1L, 0L, Some(0L))))    // fully covered
    assert(got(3L) == ((0L, 0L, None)))        // too short for a 3-gram
  }
}
