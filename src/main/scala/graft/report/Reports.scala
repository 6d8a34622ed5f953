package graft.report

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.pipeline.ReferenceTables
import CondensedJoin._

/** The three reference reports over a finished job's stage tables.
  * Reference: `/root/reference/src/groovy/haplorec/util/pipeline/Report.groovy:17-176`.
  */
object Reports {

  /** User-facing column aliases (`pipeline/Report.groovy:186-197`). */
  val aliases: Map[String, String] = Map(
    "PATIENT_ID" -> "SAMPLE_ID",
    "GENE_NAME" -> "GENE",
    "DRUG_NAME" -> "DRUG",
    "PHENOTYPE_NAME" -> "PHENOTYPE",
    "HAPLOTYPE_NAME1" -> "HAPLOTYPE1",
    "HAPLOTYPE_NAME2" -> "HAPLOTYPE2",
    "HAPLOTYPE_NAME" -> "HAPLOTYPE",
    "SNP_ID" -> "RS#",
    "HET_COMBO" -> "HET_COMBO",
    "HET_COMBOS" -> "#HET_COMBOS")

  /** Strip the `table__` prefix, uppercase, apply aliases
    * (`pipeline/Report.groovy:205-210`).
    */
  def friendlyName(namespaced: String): String = {
    val bare = namespaced.replaceAll("^.*__", "").toUpperCase
    aliases.getOrElse(bare, bare)
  }

  /** Stage frames get a surrogate per-row id (the reference tables carry
    * auto_increment ids used as duplicate keys): a `row_number` over the
    * frame's full column order, ascending nulls first, inside the plan.
    * The window runs on one partition, coalesced so it needs no exchange
    * (stage tables are job-sized). Only fully identical rows can tie on
    * every column, and their ids are interchangeable, so the assignment is
    * deterministic.
    */
  private def withId(df: DataFrame): DataFrame = {
    val order = Window.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
    df.coalesce(1).select(col("*"), row_number().over(order).cast(LongType).as("id"))
  }

  private def usingOn(left: Seq[(String, String)], table: String,
      cols: Seq[String]): Column = CondensedJoin.usingOn(left, table, cols)

  /** A drug report: `head` plus the tail both drug reports share
    * (`pipeline/Report.groovy:54-114`, `:119-176`): each genotype (`jpg`) → its haplotype calls (`jpgh`, on
    * either haplotype of the pair) → their reference variants (`ghv`) → the
    * patient's variants at those alleles (`jpv`). `head` holds the
    * report-specific tables up to `jpg`; the tail's tables, columns, joins
    * and duplicate keys are appended to it.
    */
  private def drugReport(
      stages: Map[String, DataFrame],
      refs: ReferenceTables,
      headTables: Map[String, DataFrame],
      head: Spec): DataFrame = {
    val tables = headTables ++ Map(
      "jpgh" -> stages("geneHaplotype"),
      "ghv" -> refs.geneHaplotypeVariant,
      "jpv" -> stages("variant"))
    val spec = head.copy(
      select = head.select ++ Seq(
        "jpgh" -> Seq("haplotype_name"),
        "jpv" -> Seq("snp_id", "allele")),
      joins = head.joins ++ Seq(
        Join("jpgh", "left", _ =>
          col2("jpgh", "job_id") === col2("jpg", "job_id") &&
            col2("jpgh", "patient_id") === col2("jpg", "patient_id") &&
            col2("jpgh", "gene_name") === col2("jpg", "gene_name") &&
            col2("jpgh", "het_combo") === col2("jpg", "het_combo") &&
            (col2("jpgh", "haplotype_name") === col2("jpg", "haplotype_name1") ||
              col2("jpgh", "haplotype_name") === col2("jpg", "haplotype_name2"))),
        Join("ghv", "left", _ =>
          col2("ghv", "gene_name") === col2("jpgh", "gene_name") &&
            col2("ghv", "haplotype_name") === col2("jpgh", "haplotype_name")),
        Join("jpv", "left", _ =>
          col2("jpv", "patient_id") === col2("jpgh", "patient_id") &&
            col2("jpv", "job_id") === col2("jpgh", "job_id") &&
            col2("jpv", "snp_id") === col2("ghv", "snp_id") &&
            col2("jpv", "allele") === col2("ghv", "allele"))),
      duplicateKey = head.duplicateKey ++ Map(
        "jpgh" -> Seq(Own("job_id"), Own("patient_id"), Own("gene_name"), Own("haplotype_name")),
        "jpv" -> Seq(Own("job_id"), Own("patient_id"),
          Foreign("jpgh", "gene_name"), Foreign("jpgh", "haplotype_name"),
          Own("allele"), Own("snp_id"))))
    renameFriendly(condensed(spec, tables))
  }

  /** Phenotype-path drug recommendation report
    * (`pipeline/Report.groovy:54-114`): recommendation → its drug details →
    * the phenotypes that caused it → the genotype behind each phenotype →
    * the haplotypes behind the genotype → the variants behind each call.
    */
  def phenotypeDrugRecommendationReport(
      spark: SparkSession,
      stages: Map[String, DataFrame],
      refs: ReferenceTables,
      jobId: Long): DataFrame =
    drugReport(stages, refs,
      headTables = Map(
        "jppdr" -> stages("phenotypeDrugRecommendation")
          .filter(col("job_id") === jobId),
        "dr" -> refs.drugRecommendation,
        "gpdr" -> refs.genePhenotypeDrugRecommendation,
        "jpgp" -> withId(stages("genePhenotype")),
        "gp" -> refs.genotypePhenotype,
        "jpg" -> stages("genotype")),
      head = Spec(
        select = Seq(
          "jppdr" -> Seq("patient_id", "drug_recommendation_id", "het_combo", "het_combos"),
          "dr" -> Seq("drug_name", "recommendation"),
          "jpgp" -> Seq("gene_name", "phenotype_name"),
          "jpg" -> Seq("haplotype_name1", "haplotype_name2")),
        root = "jppdr",
        joins = Seq(
          Join("dr", "left", _ => col2("jppdr", "drug_recommendation_id") === col2("dr", "id")),
          Join("gpdr", "left", have => usingOn(have, "gpdr", Seq("drug_recommendation_id"))),
          Join("jpgp", "left", have => usingOn(have, "jpgp",
            Seq("job_id", "patient_id", "gene_name", "phenotype_name", "het_combo"))),
          Join("gp", "left", have => usingOn(have, "gp", Seq("gene_name", "phenotype_name"))),
          Join("jpg", "left", have => usingOn(have, "jpg",
            Seq("job_id", "patient_id", "haplotype_name1", "haplotype_name2", "het_combo")))),
        duplicateKey = Map(
          "dr" -> Seq(Own("id"), Foreign("jppdr", "job_id"), Foreign("jppdr", "patient_id")),
          "jpgp" -> Seq(Own("id"), Foreign("dr", "id")))))

  /** Genotype-path drug recommendation report
    * (`pipeline/Report.groovy:119-176`).
    */
  def genotypeDrugRecommendationReport(
      spark: SparkSession,
      stages: Map[String, DataFrame],
      refs: ReferenceTables,
      jobId: Long): DataFrame =
    drugReport(stages, refs,
      headTables = Map(
        "jpgdr" -> stages("genotypeDrugRecommendation")
          .filter(col("job_id") === jobId),
        "dr" -> refs.drugRecommendation,
        "gdr" -> refs.genotypeDrugRecommendation,
        "jpg" -> withId(stages("genotype"))),
      head = Spec(
        select = Seq(
          "jpgdr" -> Seq("patient_id", "drug_recommendation_id", "het_combo", "het_combos"),
          "dr" -> Seq("drug_name", "recommendation"),
          "jpg" -> Seq("gene_name", "haplotype_name1", "haplotype_name2")),
        root = "jpgdr",
        joins = Seq(
          Join("dr", "left", _ => col2("jpgdr", "drug_recommendation_id") === col2("dr", "id")),
          Join("gdr", "left", have => usingOn(have, "gdr", Seq("drug_recommendation_id"))),
          Join("jpg", "left", have => usingOn(have, "jpg",
            Seq("job_id", "patient_id", "haplotype_name1", "haplotype_name2", "het_combo")))),
        duplicateKey = Map(
          "dr" -> Seq(Own("id"), Foreign("jpgdr", "job_id"), Foreign("jpgdr", "patient_id")),
          "jpg" -> Seq(Own("id"), Foreign("dr", "id")))))

  private def renameFriendly(df: DataFrame): DataFrame = {
    // Later duplicate friendly names (e.g. two HAPLOTYPE columns) get
    // numeric suffixes to stay addressable. Renamed in ONE projection
    // (toDF), not a withColumnRenamed fold — a fold nests one Project per
    // column and the analyzer re-walks the tree per level.
    val seen = scala.collection.mutable.Map[String, Int]()
    val names = df.columns.map { c =>
      val base = friendlyName(c)
      val n = seen.getOrElse(base, 0)
      seen(base) = n + 1
      if (n == 0) base else s"$base$n"
    }
    df.toDF(names.toIndexedSeq: _*)
  }

  /** Novel-haplotype matrix report (`pipeline/Report.groovy:17-34` + matrix
    * iteration R3): per gene with novel calls, the known-haplotype matrix
    * plus one row per (patient, chromosome, combo) novel haplotype, columns
    * = the gene's SNPs in sorted order, rows sorted by name.
    *
    * One collect, a union with no exchange, brings the job's novel calls
    * and its variants to the driver, where each call meets its
    * chromosome's alleles at its gene's SNPs. The known rows come from the
    * driver-side matrices, so each gene's matrix is assembled on the driver
    * and returned as a driver-resident frame that reads without a job.
    */
  def novelHaplotypeReport(
      spark: SparkSession,
      stages: Map[String, DataFrame],
      refs: ReferenceTables,
      jobId: Long): Map[String, DataFrame] = {
    def ofJob(stage: String) = stages(stage).filter(col("job_id") === jobId)
    val none = lit(null).cast(StringType)
    val (calls, variants) = ofJob("novelHaplotype")
      .select(lit(true), col("gene_name"), col("patient_id"), col("physical_chromosome"),
        col("het_combo"), col("het_combos"), none, none)
      .union(ofJob("variant")
        .select(lit(false), none, col("patient_id"), col("physical_chromosome"),
          lit(0), lit(0), col("snp_id"), col("allele")))
      .collect().partition(_.getBoolean(0))
    // (patient, chromosome) -> that chromosome's variants
    val alleles = variants.groupBy(r => (r.getString(2), r.getString(3)))
    val matrices = refs.matrices.value
    calls.groupBy(_.getString(1)).map { case (gene, geneCalls) =>
      val snps = refs.snpsByGene.getOrElse(gene, Nil)
      val at = snps.zipWithIndex.toMap
      // row name -> (snp position -> allele); the first allele seen wins
      val cells = mutable.Map.empty[String, mutable.Map[Int, String]]
      def put(name: String, snp: String, allele: String): Unit =
        at.get(snp).foreach(cells.getOrElseUpdate(name, mutable.Map.empty).getOrElseUpdate(_, allele))
      matrices.get(gene).foreach(m => m.rows.foreach { case (hap, row) =>
        m.snpIds.zip(row).foreach { case (snp, a) => a.foreach(put(hap, snp, _)) }
      })
      // a call on no physical chromosome meets no variant (SQL equality)
      geneCalls.filter(c => !c.isNullAt(3)).foreach { c =>
        val name = s"Sample ${c.getString(2)}, chr${c.getString(3)} (${c.getInt(4)}/${c.getInt(5)})"
        alleles.getOrElse((c.getString(2), c.getString(3)), Array.empty[Row])
          .foreach(v => put(name, v.getString(6), v.getString(7)))
      }
      val matrix = cells.toSeq.sortBy(c => UTF8String.fromString(c._1)).map { case (name, row) =>
        Row.fromSeq(name +: snps.indices.map(row.get(_).orNull))
      }
      val schema = StructType(("row_name" +: snps).map(StructField(_, StringType)))
      gene -> spark.createDataFrame(java.util.Arrays.asList(matrix: _*), schema)
    }
  }
}
