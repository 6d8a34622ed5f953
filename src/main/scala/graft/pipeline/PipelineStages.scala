package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.algo.{Disambiguate, Variant}
import graft.ops.{GroupedRowsToColumns, SetContainment}
import Schemas._

/** The seven pipeline stage rules, re-expressed Spark-first.
  *
  * Reference: `/root/reference/src/groovy/haplorec/util/pipeline/Pipeline.groovy`.
  * The reference's per-(gene, patient) SQL loops (`Pipeline.groovy:230-316`,
  * `:359-399`) become two `groupByKey.flatMapGroups` operators probing
  * broadcast matrices — one shuffle each on (job, patient, gene), no driver
  * round trips, linear in the variant count at any scale. Groups are tiny
  * (one patient × one gene), so skew is bounded by gene popularity and AQE
  * handles the rest.
  */
object PipelineStages {

  /** variant → hetVariant: enumerate possible phasings of each patient's het
    * calls per gene (`Pipeline.groovy:340-402`, algorithm U2).
    */
  def variantToHetVariant(
      spark: SparkSession,
      variants: DataFrame,
      refs: ReferenceTables): DataFrame = {
    import spark.implicits._
    val matrices = refs.matrices
    val hets = variants
      .filter($"zygosity" === "het")
      .join(broadcast(refs.geneSnp), Seq("snp_id"))
      .select($"job_id", $"patient_id", $"gene_name", $"snp_id", $"allele")
      .as[HetCall]
    hets
      .groupByKey(h => (h.job_id, h.patient_id, h.gene_name))
      .flatMapGroups { (key: (Long, String, String), rows: Iterator[HetCall]) =>
        val (jobId, patientId, gene) = key
        val hetVars = rows.map(r => Variant(r.snp_id, r.allele)).toVector
        val d = Disambiguate.disambiguateHets(matrices.value(gene), hetVars)
        val total = d.comboCount
        d.allCombos.iterator.zipWithIndex.flatMap { case (combo, idx) =>
          combo.iterator.map(pv =>
            HetVariantRow(jobId, patientId, pv.physicalChromosome,
              idx + 1, total, pv.snpId, pv.allele))
        }
      }
      .toDF()
  }

  /** variant + hetVariant → geneHaplotype/novelHaplotype: call haplotypes per
    * (patient, gene, chromosome, het combo) against the broadcast matrix
    * (`Pipeline.groovy:196-316`, algorithm U1). Returns the combined
    * [[Schemas.HaplotypeCall]] frame; split with [[geneHaplotypeFromCalls]] /
    * [[novelHaplotypeFromCalls]] (persist the result first — both read it).
    */
  def variantToHaplotypeCalls(
      spark: SparkSession,
      variants: DataFrame,
      hetVariants: DataFrame,
      refs: ReferenceTables): DataFrame = {
    import spark.implicits._
    val matrices = refs.matrices
    val geneSnpB = broadcast(refs.geneSnp)
    val homs = variants
      .filter($"zygosity" === "hom")
      .join(geneSnpB, Seq("snp_id"))
      .select($"job_id", $"patient_id", $"gene_name", $"physical_chromosome",
        lit(0).as("het_combo"), lit(0).as("het_combos"), $"snp_id", $"allele",
        lit(false).as("is_het"))
    val hets = hetVariants
      .join(geneSnpB, Seq("snp_id"))
      .select($"job_id", $"patient_id", $"gene_name",
        $"physical_chromosome".cast("string").as("physical_chromosome"),
        $"het_combo", $"het_combos", $"snp_id", $"allele", lit(true).as("is_het"))

    homs.unionByName(hets)
      .as[TaggedVariant]
      .groupByKey(t => (t.job_id, t.patient_id, t.gene_name))
      .flatMapGroups { (key: (Long, String, String), it: Iterator[TaggedVariant]) =>
        val (jobId, patientId, gene) = key
        val all = it.toVector
        val matrix = matrices.value(gene)
        val (homRows, hetRows) = all.partition(!_.is_het)
        val homsByChrom: Map[String, Vector[Variant]] =
          homRows.groupBy(_.physical_chromosome.get)
            .map { case (c, vs) => c -> vs.map(v => Variant(v.snp_id, v.allele)) }
        val hetsByChrom: Map[String, Vector[TaggedVariant]] =
          hetRows.groupBy(_.physical_chromosome.get)
        Seq("A", "B").iterator.flatMap { chrom =>
          val homVariants = homsByChrom.getOrElse(chrom, Vector.empty)
          val chromHets = hetsByChrom.get(chrom)
          // No het phasings for this chromosome => single combo 1/1 with no
          // het variants (`Pipeline.groovy:265-274`).
          val combos: Seq[(Int, Int, Vector[Variant])] = chromHets match {
            case None => Seq((1, 1, Vector.empty))
            case Some(rows) =>
              rows.groupBy(_.het_combo).toSeq.sortBy(_._1).map { case (combo, vs) =>
                (combo, vs.head.het_combos, vs.map(v => Variant(v.snp_id, v.allele)))
              }
          }
          combos.iterator.flatMap { case (hetCombo, hetCombos, hetVars) =>
            matrix.variantsToHaplotypes(homVariants ++ hetVars) match {
              case Some(haps) if haps.size == 1 =>
                Iterator.single(HaplotypeCall(jobId, patientId, chrom, hetCombo,
                  hetCombos, gene, Some(haps.head)))
              case Some(haps) if haps.isEmpty =>
                Iterator.single(HaplotypeCall(jobId, patientId, chrom, hetCombo,
                  hetCombos, gene, None))
              case _ => Iterator.empty // ambiguous, or gene untouched
            }
          }
        }
      }
      .toDF()
  }

  /** `job_patient_gene_haplotype` rows from the combined calls. */
  def geneHaplotypeFromCalls(calls: DataFrame): DataFrame =
    calls.filter(col("haplotype_name").isNotNull)
      .select("job_id", "patient_id", "physical_chromosome", "het_combo",
        "het_combos", "gene_name", "haplotype_name")

  /** `job_patient_novel_haplotype` rows from the combined calls. */
  def novelHaplotypeFromCalls(calls: DataFrame): DataFrame =
    calls.filter(col("haplotype_name").isNull)
      .select("job_id", "patient_id", "physical_chromosome", "het_combo",
        "het_combos", "gene_name")

  /** geneHaplotype → genotype: pair haplotypes per (job, patient, gene,
    * het_combo) into sorted (haplotype_name1 ≤ haplotype_name2) columns; a
    * single haplotype leaves haplotype_name2 null; groups of >2 are bad and
    * dropped (`Pipeline.groovy:102-131` via `Sql.groovy:230-335`).
    */
  def geneHaplotypeToGenotype(geneHaplotype: DataFrame): DataFrame = {
    import GroupedRowsToColumns._
    val (good, _) = GroupedRowsToColumns(
      geneHaplotype,
      groupBy = Seq("job_id", "patient_id", "gene_name", "het_combo"),
      columnMap = Seq(
        Passthrough("job_id", "job_id"),
        Passthrough("patient_id", "patient_id"),
        Passthrough("gene_name", "gene_name"),
        Passthrough("het_combo", "het_combo"),
        Passthrough("het_combos", "het_combos"),
        Spread("haplotype_name", Seq("haplotype_name1", "haplotype_name2"))),
      orderRowsBy = Seq("haplotype_name"))
    good
  }

  /** genotype → genePhenotype: equi join to `genotype_phenotype` on the
    * sorted haplotype pair (`Pipeline.groovy:446-459`).
    */
  def genotypeToGenePhenotype(genotype: DataFrame, refs: ReferenceTables): DataFrame =
    genotype
      .join(broadcast(refs.genotypePhenotype),
        Seq("gene_name", "haplotype_name1", "haplotype_name2"))
      .select("job_id", "patient_id", "het_combo", "het_combos", "gene_name",
        "phenotype_name")

  private val recommendationOut =
    Seq("job_id", "patient_id", "drug_recommendation_id", "het_combo", "het_combos")

  /** genePhenotype → phenotypeDrugRecommendation: emit recommendations whose
    * full required (gene, phenotype) set is contained in the patient's set
    * (`Pipeline.groovy:138-159`, set-containment join J4).
    */
  def genePhenotypeToPhenotypeDrugRecommendation(
      genePhenotype: DataFrame,
      refs: ReferenceTables): DataFrame =
    SetContainment.selectWhereSubsetOf(
      a = refs.genePhenotypeDrugRecommendation,
      b = genePhenotype,
      setCols = Seq("gene_name", "phenotype_name"),
      aGroupBy = Seq("drug_recommendation_id"),
      bGroupBy = Seq("job_id", "patient_id", "het_combo", "het_combos"),
      select = recommendationOut)

  /** genotype → genotypeDrugRecommendation: same containment on
    * (gene, haplotype1, haplotype2) (`Pipeline.groovy:419-440`).
    */
  def genotypeToGenotypeDrugRecommendation(
      genotype: DataFrame,
      refs: ReferenceTables): DataFrame =
    SetContainment.selectWhereSubsetOf(
      a = refs.genotypeDrugRecommendation,
      b = genotype,
      setCols = Seq("gene_name", "haplotype_name1", "haplotype_name2"),
      aGroupBy = Seq("drug_recommendation_id"),
      bGroupBy = Seq("job_id", "patient_id", "het_combo", "het_combos"),
      select = recommendationOut)
}
