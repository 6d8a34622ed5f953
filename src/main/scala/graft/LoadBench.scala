package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Pipeline, ReferenceTables}

/** Reference-parity load benchmark, mirroring
  * `/root/reference/test/groovy/haplorec/test/util/pipeline/PipelineLoadTest.groovy`:
  *
  *  1. `testLoadLotsOfVariants` (`:65-75`): full pipeline over 100,000
  *     `job_patient_variant` rows (2 chromosomes × 10 samples × 5,000
  *     variants/sample), no reference data — bound ≤ 10 s on MySQL.
  *  2. `testGeneHaplotype` (`:83-113`): haplotype-calling stage against a
  *     1,993,200-row `gene_haplotype_variant` matrix (151 snps × 132
  *     haplotypes × 100 genes) with 379 samples × 151 variants
  *     (114,458 variant rows) — bound ≤ 5 min on MySQL.
  *
  * Generators reproduce the reference's exactly (`:115-163`): gene g's snps
  * are rs((g-1)*151+1 .. g*151); each haplotype's first-snp allele encodes
  * the haplotype number; each sample's first-snp allele is '1', so samples
  * 1..100 call haplotype *1 on both chromosomes and samples 101+ touch no
  * gene.
  */
object LoadBench {

  def generateGeneHaplotypeVariant(spark: SparkSession, variantsPerHaplotype: Int,
      haplotypesPerGene: Int, genes: Int): DataFrame = {
    spark.range(0, genes.toLong * haplotypesPerGene * variantsPerHaplotype)
      .select(
        (col("id") / (haplotypesPerGene * variantsPerHaplotype)).cast("long").as("g"),
        (col("id") % (haplotypesPerGene * variantsPerHaplotype)).as("r"))
      .select(col("g"),
        (col("r") / variantsPerHaplotype).cast("long").as("h"),
        (col("r") % variantsPerHaplotype).as("v"))
      .select(
        concat(lit("g"), col("g") + 1).as("gene_name"),
        concat(lit("*"), col("h") + 1).as("haplotype_name"),
        concat(lit("rs"), col("g") * variantsPerHaplotype + col("v") + 1).as("snp_id"),
        when(col("v") === 0, (col("h") + 1).cast("string")).otherwise(lit("A")).as("allele"))
  }

  def generateVariants(spark: SparkSession, variantsPerSample: Int, samples: Int): DataFrame = {
    spark.range(0, samples.toLong * variantsPerSample * 2)
      .select(
        (col("id") / (variantsPerSample * 2)).cast("long").as("s"),
        (col("id") % (variantsPerSample * 2)).as("r"))
      .select(col("s"),
        (col("r") / 2).cast("long").as("v"),
        when(col("r") % 2 === 0, "A").otherwise("B").as("physical_chromosome"))
      .select(
        concat(lit("sample"), col("s") + 1).as("patient_id"),
        col("physical_chromosome"),
        concat(lit("rs"), col("s") * variantsPerSample + col("v") + 1).as("snp_id"),
        when(col("v") === 0, "1").otherwise(lit("A")).as("allele"),
        lit("hom").as("zygosity"))
  }

  def emptyRefs(spark: SparkSession): ReferenceTables = {
    import spark.implicits._
    ReferenceTables(
      Seq.empty[(Long, String)].toDF("id", "recommendation"),
      Seq.empty[(String, String, Long)]
        .toDF("gene_name", "phenotype_name", "drug_recommendation_id"),
      Seq.empty[(String, String, String, String)]
        .toDF("gene_name", "haplotype_name", "snp_id", "allele"),
      Seq.empty[(String, String, String, String)]
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "phenotype_name"),
      Seq.empty[(String, String, String, Long)]
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "drug_recommendation_id"))
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Scenario 1: 100k-variant full pipeline, empty reference data.
    val t0 = System.nanoTime()
    val variants1 = generateVariants(spark, 5000, 10)
    val stages1 = Pipeline.runJob(spark, emptyRefs(spark), 1L, variants = Some(variants1))
    val loaded = stages1("variant").count()
    stages1.values.foreach(_.count())
    val s1 = (System.nanoTime() - t0) / 1e9
    println(f"""{"scenario":"variants_100k","rows":$loaded,"seconds":$s1%.2f,"reference_bound_s":10}""")
    spark.catalog.clearCache()

    // Scenario 2: haplotype calling against the 2M-row matrix.
    val t1 = System.nanoTime()
    val refs2 = ReferenceTables(
      emptyRefs(spark).drugRecommendation,
      emptyRefs(spark).genePhenotypeDrugRecommendation,
      generateGeneHaplotypeVariant(spark, 151, 132, 100),
      emptyRefs(spark).genotypePhenotype,
      emptyRefs(spark).genotypeDrugRecommendation)
    val variants2 = generateVariants(spark, 151, 379)
    val stages2 = Pipeline.runJob(spark, refs2, 2L, variants = Some(variants2))
    val calls = stages2("geneHaplotype").count()
    val s2 = (System.nanoTime() - t1) / 1e9
    println(f"""{"scenario":"gene_haplotype_2M_matrix","matrix_rows":1993200,"variant_rows":${379 * 151 * 2},"gene_haplotype_calls":$calls,"seconds":$s2%.2f,"reference_bound_s":300}""")

    // Sanity: samples 1..100 call *1 on A and B => 200 rows.
    require(calls == 200, s"expected 200 haplotype calls, got $calls")
    spark.stop()
  }
}
