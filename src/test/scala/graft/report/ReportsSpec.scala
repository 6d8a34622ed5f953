package graft.report

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Pipeline, ReferenceTables}

/** Report engine tests over a finished pipeline job (reference:
  * `pipeline/Report.groovy` semantics + `RowTest` collapse behavior).
  */
class ReportsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-report-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The report fixture's reference tables. Each drug `(id, name)` gets one
    * phenotype rule and one genotype rule that the fixture patient meets. */
  def fixtureRefs(drugs: Seq[(Long, String)] = Seq((1L, "drugA"))): ReferenceTables = {
    import spark.implicits._
    ReferenceTables(
      drugRecommendation = drugs.map { case (id, name) =>
        (id, name, "imp", s"take $name", "strong", "egs") }
        .toDF("id", "drug_name", "implications", "recommendation", "classification", "diplotype_egs"),
      genePhenotypeDrugRecommendation = drugs.map(d => ("g1", "homozygote normal", d._1))
        .toDF("gene_name", "phenotype_name", "drug_recommendation_id"),
      geneHaplotypeVariant = Seq(
        ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
        ("g1", "*2", "rs3", "C"))
        .toDF("gene_name", "haplotype_name", "snp_id", "allele"),
      genotypePhenotype = Seq(("g1", "*1", "*1", "homozygote normal"))
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "phenotype_name"),
      genotypeDrugRecommendation = drugs.map(d => ("g1", "*1", "*1", d._1))
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "drug_recommendation_id"))
  }

  def runFixtureJob(refs: ReferenceTables = fixtureRefs())
      : (Map[String, DataFrame], ReferenceTables) = {
    import spark.implicits._
    val variants = Seq(
      ("patient1", "A", "rs1", "A", "hom"),
      ("patient1", "A", "rs2", "G", "hom"),
      ("patient1", "B", "rs1", "A", "hom"),
      ("patient1", "B", "rs2", "G", "hom"))
      .toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
    (Pipeline.runJob(spark, refs, 1L, variants = Some(variants)), refs)
  }

  /** Job 2: one patient with an allele no haplotype has at rs1 (novel). */
  def runNovelJob(refs: ReferenceTables): Map[String, DataFrame] = {
    import spark.implicits._
    val variants = Seq(
      ("patientN", "A", "rs1", "T", "hom"),
      ("patientN", "B", "rs1", "T", "hom"))
      .toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
    Pipeline.runJob(spark, refs, 2L, variants = Some(variants))
  }

  private def cacheManagerEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** The three reports over the fixture job (1) and the novel job (2). */
  private def allReports(stages: Map[String, DataFrame], novel: Map[String, DataFrame],
      refs: ReferenceTables): Seq[DataFrame] =
    Seq(Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L),
      Reports.genotypeDrugRecommendationReport(spark, stages, refs, 1L)) ++
      Reports.novelHaplotypeReport(spark, novel, refs, 2L).toSeq.sortBy(_._1).map(_._2)

  private def rowsOf(reports: Seq[DataFrame]): Seq[Seq[String]] =
    reports.map(_.collect().map(_.toString).toSeq)

  private def jobsDuring(block: => Unit): Int = graft.JobCount.during(spark)(block).size

  test("runJob runs no Spark job over driver-resident reference tables") {
    val refs = fixtureRefs()
    assert(jobsDuring(runFixtureJob(refs)) == 0)
    assert(jobsDuring(runNovelJob(refs)) == 0)
  }

  test("building a report runs no job, and collecting one runs a fixed number") {
    val (stages, refs) = runFixtureJob()
    val novel = runNovelJob(refs)
    rowsOf(allReports(stages, novel, refs)) // the stage tables are computed once
    def phenotype() = Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L)
    assert(jobsDuring(phenotype()) == 0)
    assert(jobsDuring(Reports.genotypeDrugRecommendationReport(spark, stages, refs, 1L)) == 0)
    // The novel matrices are assembled on the driver from one collect and
    // render without a job.
    var matrices = Map.empty[String, DataFrame]
    assert(jobsDuring { matrices = Reports.novelHaplotypeReport(spark, novel, refs, 2L) } == 1)
    assert(jobsDuring(matrices.values.foreach(graft.io.DsvWriter.renderString(_))) == 0)
    val counts = (1 to 3).map { _ =>
      val report = phenotype()
      jobsDuring(report.collect())
    }
    assert(counts.distinct.size == 1, s"jobs per collect: $counts")
  }

  test("runJob, the three reports and minhash near-dup leave the cache manager empty") {
    spark.catalog.clearCache()
    val (stages, refs) = runFixtureJob()
    assert(rowsOf(allReports(stages, runNovelJob(refs), refs)).forall(_.nonEmpty))
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.minHashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().nonEmpty)
    assert(cacheManagerEmpty)
  }

  test("reports recompute after every block persisted during the build is lost") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (stages, refs) = runFixtureJob()
    val novel = runNovelJob(refs)
    val reports = allReports(stages, novel, refs)
    val expected = rowsOf(reports)
    val built = sc.getPersistentRDDs.keySet -- before
    assert(built.nonEmpty)
    // what executor loss does to the blocks
    built.foreach(id =>
      org.apache.spark.SparkEnv.get.blockManager.master.removeRdd(id, blocking = true))
    // A fresh query over each report: re-running the same Dataset would
    // reuse its finished adaptive plan's shuffle files instead of reading
    // the lost blocks.
    assert(rowsOf(reports.map(_.select("*"))) == expected)
  }

  /** Drug ids deliberately NOT in drug-name order. */
  private val unsortedDrugs = Seq((1L, "zeta"), (2L, "alpha"))

  test("phenotype drug recommendation report: friendly columns + condensed rows") {
    val (stages, refs) = runFixtureJob()
    val report = Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L)
    assert(report.columns.toSeq == Seq("SAMPLE_ID", "DRUG_RECOMMENDATION_ID",
      "HET_COMBO", "#HET_COMBOS", "DRUG", "RECOMMENDATION", "GENE", "PHENOTYPE",
      "HAPLOTYPE1", "HAPLOTYPE2", "HAPLOTYPE", "RS#", "ALLELE"))
    val rows = report.collect()
    assert(rows.nonEmpty)
    // First occurrence carries the full context
    val first = rows.head
    assert(first.getString(0) == "patient1")
    assert(first.getString(4) == "drugA")
    assert(first.getString(7) == "homozygote normal")
    // Duplicate suppression: drug name appears exactly once for the patient
    assert(rows.count(r => !r.isNullAt(4)) == 1)
  }

  test("condensed staircase collapse on the report") {
    val (stages, refs) = runFixtureJob()
    val report = Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L)
    val collapsed = CondensedJoin.collapseRows(report).toList
    assert(collapsed.nonEmpty)
    // The first collapsed row is dense: drug + phenotype + genotype together
    val first = collapsed.head
    assert(first.contains("DRUG") && first.contains("PHENOTYPE") && first.contains("SAMPLE_ID"))
    // DSV rendering round-trips header + rows
    val dsv = CondensedJoin.toDsv(report.columns.toSeq, collapsed.iterator)
    assert(dsv.linesIterator.next().startsWith("SAMPLE_ID\t"))
    assert(dsv.linesIterator.size == collapsed.size + 1)
  }

  test("genotype drug recommendation report") {
    val (stages, refs) = runFixtureJob()
    val report = Reports.genotypeDrugRecommendationReport(spark, stages, refs, 1L)
    assert(report.columns.toSeq == Seq("SAMPLE_ID", "DRUG_RECOMMENDATION_ID",
      "HET_COMBO", "#HET_COMBOS", "DRUG", "RECOMMENDATION", "GENE",
      "HAPLOTYPE1", "HAPLOTYPE2", "HAPLOTYPE", "RS#", "ALLELE"))
    val rows = report.collect()
    assert(rows.nonEmpty && rows.head.getString(0) == "patient1")
  }

  test("novel haplotype matrix report") {
    val (_, refs) = runFixtureJob()
    val stages = runNovelJob(refs)
    val matrices = Reports.novelHaplotypeReport(spark, stages, refs, 2L)
    assert(matrices.keySet == Set("g1"))
    val m = matrices("g1").collect().map(r => r.getString(0)).toSet
    assert(m.contains("*1") && m.contains("*2"))
    assert(m.exists(_.startsWith("Sample patientN, chrA")))
    assert(m.exists(_.startsWith("Sample patientN, chrB")))
  }

  test("drug reports join each recommendation to the drug with its own id") {
    val (stages, refs) = runFixtureJob(fixtureRefs(unsortedDrugs))
    Seq(
      Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L),
      Reports.genotypeDrugRecommendationReport(spark, stages, refs, 1L)
    ).foreach { report =>
      val shown = report.collect().filter(r => !r.isNullAt(r.fieldIndex("DRUG")))
        .map(r => (r.getAs[Long]("DRUG_RECOMMENDATION_ID"), r.getAs[String]("DRUG")))
        .toSet
      assert(shown == unsortedDrugs.toSet)
    }
  }

  test("parquet-backed refs give the same stage tables and reports as literal refs") {
    val literal = fixtureRefs(unsortedDrugs)
    val dir = graft.TestScratch.dir("graft-report-refs")
    def onDisk(name: String, df: DataFrame): DataFrame = {
      df.write.parquet(s"$dir/$name")
      spark.read.parquet(s"$dir/$name")
    }
    val parquet = ReferenceTables(
      onDisk("dr", literal.drugRecommendation),
      onDisk("gpdr", literal.genePhenotypeDrugRecommendation),
      onDisk("ghv", literal.geneHaplotypeVariant),
      onDisk("gp", literal.genotypePhenotype),
      onDisk("gdr", literal.genotypeDrugRecommendation))
    def rows(df: DataFrame): Seq[String] = df.columns.toSeq ++ df.collect().map(_.toString)
    def outputs(refs: ReferenceTables) = {
      val (stages, _) = runFixtureJob(refs)
      val novelStages = runNovelJob(refs)
      val stageRows = (stages.toSeq ++ novelStages.toSeq.map(kv => (kv._1 + "@2", kv._2)))
        .sortBy(_._1).map { case (k, df) => k -> rows(df).sorted }
      (stageRows,
        rows(Reports.phenotypeDrugRecommendationReport(spark, stages, refs, 1L)),
        rows(Reports.genotypeDrugRecommendationReport(spark, stages, refs, 1L)),
        Reports.novelHaplotypeReport(spark, novelStages, refs, 2L).toSeq.sortBy(_._1)
          .map { case (g, df) => g -> rows(df) })
    }
    val expected = outputs(literal)
    assert(expected._2.size > 1 && expected._3.size > 1 && expected._4.nonEmpty)
    assert(outputs(parquet) == expected)
  }
}
