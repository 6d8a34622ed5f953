package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.Pipeline
import graft.queries._

/** Driver contract: one `queries` entry per implemented operator (SURVEY §2
  * + the training-data extensions), each with a DuckDB-equivalent oracle in
  * [[SparkEntry.oracleSql]]. Both maps derive from the query families under
  * `graft.queries`, where each [[graft.queries.Query]] declares its name,
  * builder and oracle once, together.
  */
object SparkEntry {

  private lazy val byName: Map[String, Query] = Query.byName(
    GenomicsQueries.queries,
    ReportQueries.queries,
    RelationalQueries.queries,
    DedupQueries.queries,
    SimilarityQueries.queries,
    RetrievalQueries.queries,
    CurationQueries.queries,
    SamplingQueries.queries,
    TokenizerQueries.queries,
    WebQueries.queries,
    TemporalQueries.queries,
    EventQueries.queries,
    StreamingQueries.queries,
    SqlQueries.queries)

  /** Flagship: the full haplorec pipeline (variant explode → haplotype call
    * → genotype pivot → phenotype join → set-containment recommendation) on
    * the inline fixture; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val refs = GenomicsQueries.fixtureRefs(spark)
    val stages = Pipeline.runJob(spark, refs, 1L,
      variants = Some(GenomicsQueries.fixtureVariantDf(spark)))
    stages("phenotypeDrugRecommendation")
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (name, q) => name -> q.build }

  lazy val oracleSql: Map[String, String] =
    byName.map { case (name, q) => name -> q.oracle }
}
