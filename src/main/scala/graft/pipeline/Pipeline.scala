package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Top-level pipeline: wires the stage rules into a [[StageGraph]] with
  * input-override semantics matching the reference's `Pipeline.pipelineJob`
  * (`/root/reference/src/groovy/haplorec/util/pipeline/Pipeline.groovy:554-702`).
  *
  * Graph shape (`Pipeline.groovy:484-525`):
  * {{{
  *   genotypeDrugRecommendation ← genotype ← geneHaplotype ← hetVariant ← variant
  *   phenotypeDrugRecommendation ← genePhenotype ← genotype
  *   novelHaplotype ← (same calls pass as geneHaplotype)
  * }}}
  *
  * A "job" is one run over one input batch; `job_id` is a plain column and
  * re-running a job is overwrite-by-job_id (`Pipeline.groovy:554-576`) — on a
  * partitioned sink that is a partition overwrite, here the caller simply
  * replaces the returned frames.
  */
object Pipeline {

  /** Direct-input stages (`PipelineInput.groovy:15-24`): rows provided for a
    * stage table get `job_id` injected and `het_combo = het_combos = 1`
    * defaults where the table carries combo fields
    * (`Pipeline.groovy:578-619`).
    */
  def withJobDefaults(df: DataFrame, jobId: Long, hetComboFields: Boolean): DataFrame = {
    val withJob =
      if (df.columns.contains("job_id")) df else df.withColumn("job_id", lit(jobId))
    if (!hetComboFields) withJob
    else {
      val withCombo =
        if (withJob.columns.contains("het_combo")) withJob
        else withJob.withColumn("het_combo", lit(1))
      if (withCombo.columns.contains("het_combos")) withCombo
      else withCombo.withColumn("het_combos", lit(1))
    }
  }

  /** One stage of the pipeline DAG: its upstream stages and its rule. */
  private final case class StageDef(
      name: String,
      deps: Seq[String],
      rule: (SparkSession, ReferenceTables, Map[String, DataFrame]) => DataFrame)

  /** The fixed 9-stage DAG (`Pipeline.groovy:484-525`), in topological order. */
  private val dag: Seq[StageDef] = Seq(
    StageDef("variant", Nil, (_, _, _) =>
      throw new IllegalArgumentException("variant input required")),
    StageDef("hetVariant", Seq("variant"), (spark, refs, d) =>
      PipelineStages.variantToHetVariant(spark, d("variant"), refs)),
    StageDef("haplotypeCalls", Seq("variant", "hetVariant"), (spark, refs, d) =>
      PipelineStages.variantToHaplotypeCalls(spark, d("variant"), d("hetVariant"), refs)),
    StageDef("geneHaplotype", Seq("haplotypeCalls"), (_, _, d) =>
      PipelineStages.geneHaplotypeFromCalls(d("haplotypeCalls"))),
    StageDef("novelHaplotype", Seq("haplotypeCalls"), (_, _, d) =>
      PipelineStages.novelHaplotypeFromCalls(d("haplotypeCalls"))),
    StageDef("genotype", Seq("geneHaplotype"), (_, _, d) =>
      PipelineStages.geneHaplotypeToGenotype(d("geneHaplotype"))),
    StageDef("genePhenotype", Seq("genotype"), (_, refs, d) =>
      PipelineStages.genotypeToGenePhenotype(d("genotype"), refs)),
    StageDef("genotypeDrugRecommendation", Seq("genotype"), (_, refs, d) =>
      PipelineStages.genotypeToGenotypeDrugRecommendation(d("genotype"), refs)),
    StageDef("phenotypeDrugRecommendation", Seq("genePhenotype"), (_, refs, d) =>
      PipelineStages.genePhenotypeToPhenotypeDrugRecommendation(d("genePhenotype"), refs)))

  /** Run one job. Any of the four input kinds may be provided
    * (`variant` is the usual entry; later stages short-circuit their
    * upstream rules exactly like the reference's input overrides).
    *
    * @return stage alias -> pinned frame ([[graft.ops.Checkpoints.pin]])
    *         for all 8 stage tables that were buildable from the provided
    *         inputs
    */
  def runJob(
      spark: SparkSession,
      refs: ReferenceTables,
      jobId: Long,
      variants: Option[DataFrame] = None,
      geneHaplotypes: Option[DataFrame] = None,
      genotypes: Option[DataFrame] = None,
      genePhenotypes: Option[DataFrame] = None
  ): Map[String, DataFrame] = {
    val graph = StageGraph(dag.map(s =>
      s.name -> StageGraph.Stage(s.deps, deps => s.rule(spark, refs, deps))): _*)

    val overrides = Seq(
      variants.map("variant" -> withJobDefaults(_, jobId, hetComboFields = false)),
      geneHaplotypes.map("geneHaplotype" -> withJobDefaults(_, jobId, hetComboFields = true)),
      genotypes.map("genotype" -> withJobDefaults(_, jobId, hetComboFields = true)),
      genePhenotypes.map("genePhenotype" -> withJobDefaults(_, jobId, hetComboFields = true))
    ).flatten.toMap

    require(overrides.nonEmpty, "at least one input stage must be provided")

    graph.build(
      targets = reachableTargets(overrides.keySet),
      overrides = overrides,
      materialize = (_, df) => graft.ops.Checkpoints.pin(df))
  }

  /** The fixed stage dependency shape (`Pipeline.groovy:484-525`). */
  val stageDeps: Map[String, Seq[String]] = dag.map(s => s.name -> s.deps).toMap

  /** The pipeline graph with introspection-only rules — for layout/levels/
    * dependants queries (`Dependency.groovy:136-317` parity) without a job.
    */
  def graphShape: StageGraph = new StageGraph(stageDeps.map { case (name, ds) =>
    name -> StageGraph.Stage(ds, _ =>
      throw new UnsupportedOperationException(s"shape-only graph: $name"))
  })

  /** The provided stages plus everything downstream of them, in DAG order:
    * e.g. a genotype input cannot (re)build geneHaplotype/novelHaplotype
    * upstream. One pass suffices because `dag` is topologically ordered. */
  private def reachableTargets(provided: Set[String]): Seq[String] = {
    val buildable = dag.foldLeft(provided) { (b, s) =>
      if (s.deps.nonEmpty && s.deps.forall(b)) b + s.name else b
    }
    dag.map(_.name).filter(buildable)
  }
}
