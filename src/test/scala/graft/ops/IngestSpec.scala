package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, first}
import org.scalatest.funsuite.AnyFunSuite

/** Ingestion operator tests (reference: `pipelines.py` collapse_by_key,
  * `process.py` phenotype normalization, `load_dsv.py` FK resolution).
  */
class IngestSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-ingest-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("collapseByKey joins distinct non-key values, with field processors") {
    val df = Seq(
      ("g1", "*1", "*2", "poor metabolizers"),
      ("g1", "*1", "*2", "poor metabolizer"),
      ("g1", "*1", "*2", "other")
    ).toDF("gene_name", "haplotype_name1", "haplotype_name2", "phenotype_name")
    val collapsed = Ingest.collapseByKey(df,
      keyCols = Seq("gene_name", "haplotype_name1", "haplotype_name2"),
      fieldProcessors = Map("phenotype_name" -> Ingest.stripTrailingS))
    val row = collapsed.collect().head
    // trailing-'s' variants dedupe to one value ("poor metabolizer")
    assert(row.getString(3) == "other. poor metabolizer")
  }

  test("phenotype normalization strips parentheticals, periods, case") {
    val df = Seq(
      "Intermediate Metabolizer (~2-11% of patients).",
      "Poor  Metabolizer",
      "Ultrarapid metabolizer (~29%)"
    ).toDF("p")
    val got = df.select(Ingest.normalizePhenotypeName($"p"))
      .collect().map(_.getString(0)).toList
    assert(got == List("intermediate metabolizer", "poor metabolizer",
      "ultrarapid metabolizer"))
  }

  test("FK resolution assigns deterministic ids and resolves children") {
    val parent = Seq("drugB", "drugA", "drugB").toDF("drug_name")
    val child = Seq(("r1", "drugA"), ("r2", "drugB")).toDF("rec", "drug_name")
    val (withId, resolved) = Ingest.resolveForeignKeys(parent, child,
      Seq("drug_name"), "drug_recommendation_id")
    assert(withId.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("drugA", 1L), ("drugB", 2L)))
    assert(resolved.select("rec", "drug_recommendation_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("r1", 1L), ("r2", 2L)))
  }

  test("FK ids over a multi-partition parent with duplicate keys are dense, in key order") {
    // 300 rows over 40 keys, spread over 4 partitions so every key appears
    // in several of them.
    val parent = (1 to 300).map(i => (s"gene${(i * 7) % 40}", i)).toDF("gene_name", "n")
      .repartition(4)
    assert(parent.rdd.getNumPartitions == 4)
    val child = Seq(("c1", "gene3"), ("c2", "gene39")).toDF("rec", "gene_name")
    val (withId, resolved) = Ingest.resolveForeignKeys(parent, child, Seq("gene_name"), "gene_id")
    val ids = withId.select("gene_name", "gene_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2).toSeq
    val keys = (0 until 40).map(k => s"gene$k").sorted
    assert(ids == keys.zip(1L to 40L))
    assert(resolved.select("rec", "gene_id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSet == Set(("c1", keys.indexOf("gene3") + 1L), ("c2", keys.indexOf("gene39") + 1L)))
  }

  test("the FK id window numbers only the distinct keys; a null key gets an id") {
    val parent = Seq((Some("b"), "wide1"), (None, "wide2"), (Some("a"), "wide3"), (Some("b"), "wide4"))
      .toDF("k", "payload")
    val child = Seq(("c1", "b")).toDF("rec", "k")
    val (withId, resolved) = Ingest.resolveForeignKeys(parent, child, Seq("k"), "k_id")
    assert(withId.columns.toSeq == Seq("k", "payload", "k_id"))
    val windows = withId.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w.child.output.map(_.name)
    }
    assert(windows == Seq(Seq("k")))
    assert(withId.select("k", "k_id").collect().map(r => (Option(r.getString(0)), r.getLong(1)))
      .toSet == Set((None, 1L), (Some("a"), 2L), (Some("b"), 3L)))
    assert(resolved.select("rec", "k_id").collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq == Seq(("c1", 3L)))
  }

  test("map DSL parses the reference's own scrapy_config.mk strings") {
    // The exact --map string from /root/reference/scrapy_config.mk:27.
    val m = Ingest.parseMapDsl(
      "genotype_drug_recommendation: gene_name, haplotype_name1, haplotype_name2, drug_name => drug_recommendation")
    assert(m == Ingest.FkMapping(
      "genotype_drug_recommendation",
      Seq("gene_name", "haplotype_name1", "haplotype_name2", "drug_name"),
      "drug_recommendation"))
    // The --ignore strings from scrapy_config.mk:29-35.
    assert(Ingest.parseIgnoreDsl("genotype_drug_recommendation.drug_name") ==
      (("genotype_drug_recommendation", "drug_name")))
    assert(Ingest.parseIgnoreDsl("drug_recommendation.gene_name") ==
      (("drug_recommendation", "gene_name")))
    // Trailing comma tolerated (load_dsv.py's own docstring example).
    assert(Ingest.parseMapDsl("R_1: x, => T") ==
      Ingest.FkMapping("R_1", Seq("x"), "T"))
    intercept[IllegalArgumentException](Ingest.parseMapDsl("R_1 x => T"))
    intercept[IllegalArgumentException](Ingest.parseMapDsl("R_1: => T"))
    intercept[IllegalArgumentException](Ingest.parseIgnoreDsl("just_a_table"))
  }

  test("applyMapDsl: resolution on raw values, ignores drop output columns only") {
    // load_dsv.py's docstring scenario: T(x,y), R_1(z,x),
    // --ignore R_1.x --map "R_1: x => T".
    val t = Seq(("x1", "y1"), ("x2", "y2")).toDF("x", "y")
    val r1 = Seq(("z1", "x1")).toDF("z", "x")
    val (parent, child) = Ingest.applyMapDsl(
      Map("T" -> t, "R_1" -> r1),
      Ingest.parseMapDsl("R_1: x => T"),
      ignores = Seq(Ingest.parseIgnoreDsl("R_1.x")))
    assert(parent.columns.toSeq == Seq("x", "y", "T_id"))
    assert(parent.collect().map(r => (r.getString(0), r.getLong(2))).toSet ==
      Set(("x1", 1L), ("x2", 2L)))
    // Child output: ignored key column dropped AFTER resolution.
    assert(child.columns.toSet == Set("z", "T_id"))
    assert(child.select("z", "T_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("z1", 1L)))
  }

  private def writeCsv(dir: String, name: String, lines: Seq[String]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      (lines.mkString("\n") + "\n").getBytes("UTF-8")): Unit

  private def writeValidContract(dir: String): Unit = {
    writeCsv(dir, "drug_recommendation.csv", Seq(
      "drug_name,implications,recommendation,classification,diplotype_egs," +
        "gene_name,haplotype_name1,haplotype_name2",
      "warfarin,imp,rec,Strong,eg,g1,*1,*1",
      "codeine,imp2,rec2,Moderate,eg2,g1,*1,*2"))
    writeCsv(dir, "gene_haplotype_variant.csv", Seq(
      "gene_name,haplotype_name,snp_id,allele",
      "g1,*1,rs1,A", "g1,*2,rs1,T"))
    writeCsv(dir, "genotype_phenotype.csv", Seq(
      "gene_name,haplotype_name1,haplotype_name2,phenotype_name," +
        "phenotype_genotype",
      "g1,*1,*1,normal,meta", "g1,*1,*2,intermediate,meta2"))
    writeCsv(dir, "genotype_drug_recommendation.csv", Seq(
      "gene_name,haplotype_name1,haplotype_name2,drug_name",
      "g1,*1,*1,warfarin", "g1,*1,*2,codeine"))
  }

  test("validateReferenceCsvs: a contract-conforming directory passes " +
      "every check") {
    val dir = graft.TestScratch.dir("graft-ingest-valid")
    writeValidContract(dir)
    val report = Ingest.validateReferenceCsvs(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
    assert(report.nonEmpty && report.forall(_._3),
      s"failed checks: ${report.filterNot(_._3).mkString(", ")}")
    // required tables each ran file/columns/pk_not_null/pk_unique; the
    // optional gene_phenotype_drug_recommendation reports absent-ok
    assert(report.count(_._1 == "drug_recommendation") == 4)
    assert(report.filter(_._1 == "gene_phenotype_drug_recommendation")
      .map(_._2).toSeq == Seq("file_present"))
  }

  test("validateReferenceCsvs: quoted prose with embedded newlines and " +
      "doubled quotes parses as one record (multiLine contract shape)") {
    val dir = graft.TestScratch.dir("graft-ingest-multiline")
    writeValidContract(dir)
    // scraped PharmGKB prose: the implications field spans three
    // physical lines and contains an RFC-4180 doubled quote — a
    // line-split parse would shred this row into phantom records whose
    // NULL keys fail pk_not_null on a file the real toolchain accepts
    writeCsv(dir, "drug_recommendation.csv", Seq(
      "drug_name,implications,recommendation,classification,diplotype_egs," +
        "gene_name,haplotype_name1,haplotype_name2",
      "warfarin,\"poor metabolizer;",
      "consider \"\"alternative\"\" agent",
      "per guideline\",rec,Strong,eg,g1,*1,*1",
      "codeine,imp2,rec2,Moderate,eg2,g1,*1,*2"))
    val report = Ingest.validateReferenceCsvs(spark, dir)
      .filter(org.apache.spark.sql.functions.col("table") ===
        "drug_recommendation")
      .collect().map(r => (r.getString(1), r.getBoolean(2), r.getString(3)))
    assert(report.forall(_._2),
      s"failed checks: ${report.filterNot(_._2).mkString(", ")}")
  }

  test("validateReferenceCsvs: missing file, wrong header, empty key " +
      "field, and duplicate key each fail their specific check") {
    val dir = graft.TestScratch.dir("graft-ingest-broken")
    writeValidContract(dir)
    // break 1: drop a required file entirely
    new java.io.File(dir, "genotype_drug_recommendation.csv").delete()
    // break 2: gene_haplotype_variant loses its allele column and gains
    // a stray one
    writeCsv(dir, "gene_haplotype_variant.csv", Seq(
      "gene_name,haplotype_name,snp_id,extra",
      "g1,*1,rs1,x"))
    // break 3: empty-string key field (the toolchain's null encoding)
    // break 4: duplicated primary key (collapse_by_key skipped)
    writeCsv(dir, "genotype_phenotype.csv", Seq(
      "gene_name,haplotype_name1,haplotype_name2,phenotype_name," +
        "phenotype_genotype",
      "g1,,*1,normal,meta",
      "g1,*1,*2,a,m", "g1,*1,*2,b,m"))
    val rep = Ingest.validateReferenceCsvs(spark, dir)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getBoolean(2), r.getString(3)))).toMap
    assert(!rep(("genotype_drug_recommendation", "file_present"))._1)
    val (colsOk, colsDetail) = rep(("gene_haplotype_variant", "columns"))
    assert(!colsOk && colsDetail.contains("allele") &&
      colsDetail.contains("extra"))
    assert(!rep(("genotype_phenotype", "pk_not_null"))._1)
    val (uniqOk, uniqDetail) = rep(("genotype_phenotype", "pk_unique"))
    assert(!uniqOk && uniqDetail.contains("collapse_by_key"))
    // untouched tables still pass everything
    assert(rep(("drug_recommendation", "pk_unique"))._1)
  }

  test("matrixToLong unpivots the reference script's docstring example") {
    // gene_haplotype_matrix_to_table.py:9-12 — header = SNP ids, first
    // column = haplotype name; --gene supplies the constant gene_name.
    val wide = Seq(("*1", "G", "C"), ("*1A", "G", "C"))
      .toDF("Haplotype Name", "rs4244285", "rs3758580")
    val got = Ingest.matrixToLong(wide, "cyp2c19")
      .orderBy("haplotype_name", "snp_id")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(got.toSeq == Seq(
      ("cyp2c19", "*1", "rs3758580", "C"),
      ("cyp2c19", "*1", "rs4244285", "G"),
      ("cyp2c19", "*1A", "rs3758580", "C"),
      ("cyp2c19", "*1A", "rs4244285", "G")))
  }

  test("matrixToLong keeps blank-cell rows with NULL alleles") {
    // GeneHaplotypeMatrix.groovy:145-163 — the G6PD sample rows carry
    // blank cells for rs137852328/rs76723693/rs2230037; the long form
    // still emits those (snp, allele) rows, with allele = null. Exercise
    // blank "", whitespace-only, and genuinely-null inputs.
    val wide = Seq(
      ("B (wildtype)", "C", "T", "G"),
      ("Sample NA22302-1, Chromosome A", "T", "", null),
      ("Sample NA22302-1, Chromosome B", "T", "  ", "A")
    ).toDF("Haplotype", "rs1050828", "rs137852328", "rs2230037")
    val long = Ingest.matrixToLong(wide, "g6pd")
    // every (row × snp) cell is emitted, blanks included
    assert(long.count() == 9)
    val nulls = long.filter(col("allele").isNull)
      .orderBy("haplotype_name", "snp_id")
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(nulls.toSeq == Seq(
      ("Sample NA22302-1, Chromosome A", "rs137852328"),
      ("Sample NA22302-1, Chromosome A", "rs2230037"),
      ("Sample NA22302-1, Chromosome B", "rs137852328")))
  }

  test("matrixToLong round-trips through the q43 report pivot") {
    val wide = Seq(
      ("*1", "G", "C", "A"),
      ("*2", "T", "C", "G"),
      ("*3", "G", "A", "G")
    ).toDF("haplotype", "rs1", "rs2", "rs3")
    val back = Ingest.matrixToLong(wide, "g1")
      .groupBy(col("haplotype_name").as("haplotype"))
      .pivot("snp_id").agg(first("allele"))
    assert(back.columns.toSeq == Seq("haplotype", "rs1", "rs2", "rs3"))
    assert(back.orderBy("haplotype").collect().map(_.toSeq).toSeq ==
      wide.orderBy("haplotype").collect().map(_.toSeq).toSeq)
  }
}
