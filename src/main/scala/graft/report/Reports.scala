package graft.report

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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

  /** Globally dense 1-based ids in `orderCols` order WITHOUT the
    * single-partition global window (`Window.orderBy` with no partition
    * moves the whole frame to one task — the WindowExec warning, and a
    * straight bottleneck on a job-scale stage table): range-partition on
    * the ordering (ascending nulls first, `SortOrder`'s default), sort
    * within partitions, then `zipWithIndex` — the [[graft.ops.Ingest]]
    * FK-resolution idiom. The extra job zipWithIndex runs to learn
    * partition sizes is a count per partition, not a data movement. Rows
    * tying on ALL of `orderCols` receive arbitrary-but-dense ids — callers
    * must pass an ordering that is total over every column they observe.
    */
  private[report] def sequentialId(
      df: DataFrame, orderCols: Seq[Column], idCol: String): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val sorted = df.repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+ org.apache.spark.sql.types.StructField(
        idCol, org.apache.spark.sql.types.LongType, nullable = false))
    spark.createDataFrame(
      sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
      },
      schema)
  }

  /** Stage frames get a surrogate per-row id (the reference tables carry
    * auto_increment ids used as duplicate keys) in the frame's full column
    * ordering — total over every column, so the assignment is
    * deterministic; computed once per report build via [[sequentialId]].
    */
  private def withId(df: DataFrame): DataFrame =
    sequentialId(df, df.columns.map(c => col(c).asc_nulls_first).toSeq, "id")

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
    * = the gene's SNPs in sorted order.
    */
  def novelHaplotypeReport(
      spark: SparkSession,
      stages: Map[String, DataFrame],
      refs: ReferenceTables,
      jobId: Long): Map[String, DataFrame] = {
    import spark.implicits._
    val novel = stages("novelHaplotype").filter(col("job_id") === jobId)
    val jobVariants = stages("variant").filter(col("job_id") === jobId)
    val genes = novel.select("gene_name").distinct()
      .orderBy("gene_name").as[String].collect()
    // Explicit pivot values: inferring them would run a distinct+sort job
    // over the union frame (whose lineage embeds the whole pipeline) per
    // gene. The gene's SNP set is exactly the pivot's column set — the
    // `known` half carries every (haplotype, snp) pair of the gene and
    // patient rows are filtered to the same set.
    genes.map { gene =>
      val snps = refs.snpsByGene.getOrElse(gene, Nil)
      val known = refs.geneHaplotypeVariant
        .filter(col("gene_name") === gene)
        .select(col("haplotype_name").as("row_name"), col("snp_id"), col("allele"))
      val patientRows = novel.filter(col("gene_name") === gene)
        .join(jobVariants,
          Seq("job_id", "patient_id", "physical_chromosome"))
        .filter(col("snp_id").isin(snps: _*))
        .select(
          concat(lit("Sample "), col("patient_id"), lit(", chr"),
            col("physical_chromosome"), lit(" ("), col("het_combo"), lit("/"),
            col("het_combos"), lit(")")).as("row_name"),
          col("snp_id"), col("allele"))
      gene -> known.unionByName(patientRows).groupBy("row_name")
        .pivot("snp_id", snps).agg(first("allele")).orderBy("row_name")
    }.toMap
  }
}
