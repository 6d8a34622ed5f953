package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import scala.collection.mutable
import scala.util.Random

import graft.algo.{Disambiguate, GeneHaplotypeMatrix, Variant}
import graft.functions.TextFunctions
import graft.io.{Dsv, DsvWriter, JsonLines, VariantReader}
import graft.ops.{Curation, Dedup}
import graft.pipeline.{JobStore, Pipeline, ReferenceTables}
import graft.report.{CondensedJoin, Reports}

/** What one op hands back to the client loop: the output check and the
  * release of the frames the API returned (both run outside the timing),
  * plus per-layer counts, which only the traced run computes. */
final case class OpResult(check: () => Vector[String], release: () => Unit,
    counts: () => Map[String, Double])

trait Workload {
  def name: String
  /** Generate the seeded inputs under `dir` and load what the ops read. */
  def setup(spark: SparkSession, dir: Path, seed: Long): Unit
  def pool: Int
  def records(input: Int): Long
  /** The file op `input` reads; each op reads its own copy at `path`. */
  def inputPath(input: Int): Path
  def op(spark: SparkSession, input: Int, path: Path, opNo: Int, t: Tracer): OpResult
}

object Workload {
  /** Stage tables in topological order. */
  val Stages: Seq[String] = Seq("variant", "hetVariant", "haplotypeCalls",
    "geneHaplotype", "novelHaplotype", "genotype", "genePhenotype",
    "genotypeDrugRecommendation", "phenotypeDrugRecommendation")

  /** Why each workload exists, next to its parameters. */
  val all: Map[String, () => Workload] = Map(
    // Real clinic traffic: small files (~22 samples x ~23 calls,
    // todo.txt:336-337) against a PharmGKB-scale panel (largest gene
    // 133 haplotypes x 151 SNPs, todo.txt:321-323). Per-job fixed cost
    // dominates: planning, the matrix rebuild inside runJob, report joins
    // and the driver-side collapse.
    "clinic_jobs" -> (() => new GenomicsWorkload("clinic_jobs", Genomics.Params(
      genes = 12, assayGenes = 3, largest = (133, 151), minHaps = 12, minSnps = 30,
      typed = 3, controls = 5, samples = 22, files = 4, novel = 2,
      emptyRate = 0.05, phenoRules = 24, genoRules = 8))),
    // Dedup, similarity and curation operators, which the genomics
    // workload does not touch: the q63 chain over planted duplicates,
    // near-duplicates, boilerplate and eval-set contamination.
    //  - docs: the sf0.1 documents table q63 reads, 5000 documents of ~50
    //    words (the curation probes run 20x-1600x it:
    //    CurationScaleProbe.scala:7-8, ComposedChainScaleProbe.scala:8).
    //  - dupGroups: groups of 2-4 copies, 2 surplus copies on average, so
    //    1% of documents are exact duplicates, the probes' planted rate
    //    (CurationScaleProbe.scala:34-35).
    //  - evalPassages: the 25-document benchmark set q63 decontaminates
    //    against (SparkEntry.scala:971).
    //  - nearPairs, farPairs, contaminated, boilerLines, vocabulary have no
    //    source in the repo: near pairs are planted at the exact-duplicate
    //    rate (1%), far pairs and contaminated documents at half of it
    //    (one per benchmark passage), and six boilerplate lines each sit in
    //    about half the documents.
    "corpus_curation" -> (() => new CurationWorkload(Corpus.Params(
      docs = 5000, shards = 4, dupGroups = 25, nearPairs = 50, farPairs = 25,
      contaminated = 25, evalPassages = 25, boilerLines = 6, vocabulary = 5000))))

  def dirSize(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Job partitions a JobStore wrote: `<root>/<table>/job_id=<id>`. */
  def jobDirs(root: Path, jobId: Long): Seq[Path] =
    graft.pipeline.Schemas.defaultTables.values.toSeq
      .map(t => root.resolve(t).resolve(s"job_id=$jobId"))
      .filter(Files.exists(_))

  /** Traced runs force a boundary's output so its time lands in its span;
    * frames the engine did not persist are persisted here and released by
    * the op's release step. */
  def force(t: Tracer, held: mutable.Buffer[DataFrame], df: DataFrame): DataFrame = {
    if (t.enabled) { held += df.persist(); df.count() }
    df
  }
}

final class GenomicsWorkload(val name: String, p: Genomics.Params) extends Workload {
  import Workload._

  private var panel: Genomics.Panel = _
  private var files: Vector[Genomics.VariantFile] = _
  private var refs: ReferenceTables = _
  private var store: JobStore = _
  private var storeDir: Path = _
  private var outDir: Path = _
  private lazy val matrices: Map[String, GeneHaplotypeMatrix] =
    GeneHaplotypeMatrix.fromLongRows(panel.genes.flatMap { g =>
      for (h <- g.haps.indices; s <- g.snps.indices if g.cells(h)(s) != 0)
        yield (g.name, g.haps(h), g.snps(s), g.cells(h)(s).toString)
    })

  def pool: Int = p.files
  def records(input: Int): Long = files(input).lines.toLong
  def inputPath(input: Int): Path = files(input).path

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    panel = Genomics.panel(p, rnd)
    val ref = Genomics.writeReferenceTables(panel, dir.resolve("reference"))
    files = Vector.tabulate(p.files)(f =>
      Genomics.variantFile(panel, p, f, dir.resolve(f"variants/file$f%02d.tsv"), rnd))
    // Reference tables are read once and kept on the driver, as a clinic
    // service holding its PharmGKB tables would: the engine plans them as
    // driver-resident literals.
    def table(name: String, header: String, longCols: String*): DataFrame = {
      val df = longCols.foldLeft(Dsv.read(spark, ref(name).toString, header.split(",").toSeq))(
        (d, c) => d.withColumn(c, col(c).cast(LongType)))
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    refs = ReferenceTables(
      table("drug_recommendation",
        "id,drug_name,implications,recommendation,classification,diplotype_egs", "id"),
      table("gene_phenotype_drug_recommendation",
        "gene_name,phenotype_name,drug_recommendation_id", "drug_recommendation_id"),
      table("gene_haplotype_variant", "gene_name,haplotype_name,snp_id,allele"),
      table("genotype_phenotype", "gene_name,haplotype_name1,haplotype_name2,phenotype_name"),
      table("genotype_drug_recommendation",
        "gene_name,haplotype_name1,haplotype_name2,drug_recommendation_id",
        "drug_recommendation_id"))
    storeDir = dir.resolve("store")
    store = new JobStore(storeDir.toString)
    outDir = dir.resolve("reports")
  }

  def op(spark: SparkSession, input: Int, path: Path, opNo: Int, t: Tracer): OpResult = {
    val file = files(input)
    val jobId = opNo.toLong + 1
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val rows = mutable.Map.empty[String, Double]
    var reportRows: () => Map[String, Double] = () => Map.empty
    val variants = t.span("io.read") {
      val df = VariantReader.read(spark, path.toString)
      if (t.enabled) rows("io.read_rows") = df.count().toDouble
      df
    }
    val stages = t.span("pipeline.plan") {
      Pipeline.runJob(spark, refs, jobId, variants = Some(variants))
    }
    if (t.enabled) Stages.foreach { s =>
      stages.get(s).foreach(df => t.span(s"pipeline.stage.$s") {
        rows(s"pipeline.stage_rows.$s") = df.count().toDouble
      })
    }
    t.span("pipeline.store_write") { store.writeAll(stages, jobId) }
    val (phenText, genoText, novelText) = {
      val phen = t.span("report.phenotype")(force(t, held,
        Reports.phenotypeDrugRecommendationReport(spark, stages, refs, jobId)))
      val geno = t.span("report.genotype")(force(t, held,
        Reports.genotypeDrugRecommendationReport(spark, stages, refs, jobId)))
      val novel = t.span("report.novel") {
        val m = Reports.novelHaplotypeReport(spark, stages, refs, jobId)
        m.values.foreach(force(t, held, _))
        m
      }
      val (phenRows, genoRows) = t.span("report.collapse") {
        (CondensedJoin.collapseRows(phen).toVector, CondensedJoin.collapseRows(geno).toVector)
      }
      reportRows = () => Map(
        "report.rows_in" -> (phen.count() + geno.count()).toDouble,
        "report.rows_out" -> (phenRows.size + genoRows.size).toDouble)
      t.span("io.write") {
        val dir = outDir.resolve(s"job$jobId")
        Files.createDirectories(dir)
        def write(n: String, text: String): String = {
          Files.write(dir.resolve(n), text.getBytes(StandardCharsets.UTF_8)); text
        }
        val novelText = novel.toSeq.sortBy(_._1).map { case (gene, df) =>
          gene -> write(s"novel_$gene.tsv", DsvWriter.renderString(df))
        }
        (write("phenotype.tsv", CondensedJoin.toDsv(phen.columns.toSeq, phenRows.iterator)),
          write("genotype.tsv", CondensedJoin.toDsv(geno.columns.toSeq, genoRows.iterator)),
          novelText)
      }
    }

    def patients(dsv: String): Set[String] = {
      val lines = dsv.split("\n").toSeq
      val at = lines.head.split("\t", -1).indexOf("SAMPLE_ID")
      lines.tail.map(_.split("\t", -1)(at)).filter(_.nonEmpty).toSet
    }
    def collect(stage: String, cols: String*): Seq[org.apache.spark.sql.Row] =
      stages(stage).select(cols.map(col): _*).collect().toSeq
    OpResult(
      check = () => Check.genomics(panel, file.planted, Check.GenomicsOut(
        genotypes = collect("genotype", "patient_id", "gene_name", "haplotype_name1",
          "haplotype_name2").map(r => (r.getString(0), r.getString(1), r.getString(2),
          Option(r.getString(3)))).toSet,
        phenoRecs = collect("phenotypeDrugRecommendation", "patient_id",
          "drug_recommendation_id").map(r => (r.getString(0), r.getLong(1))).toSet,
        genoRecs = collect("genotypeDrugRecommendation", "patient_id",
          "drug_recommendation_id").map(r => (r.getString(0), r.getLong(1))).toSet,
        reports = Check.ReportsOut(patients(phenText), patients(genoText),
          novelText.flatMap { case (gene, text) =>
            text.split("\n").iterator.filter(_.startsWith("Sample "))
              .map(l => (gene, l.stripPrefix("Sample ").takeWhile(_ != ',')))
          }.toSet))),
      release = () => {
        stages.values.foreach(_.unpersist())
        held.foreach(_.unpersist())
        jobDirs(storeDir, jobId).foreach(deleteTree)
        deleteTree(outDir.resolve(s"job$jobId"))
      },
      counts = () => {
        rows("pipeline.store_bytes") =
          jobDirs(storeDir, jobId).map(dirSize).sum.toDouble
        rows ++= reportRows()
        rows ++= containment(stages)
        rows ++= replayAlgo(file)
        rows.toMap
      })
  }

  /** Recommendations over candidate (patient-combo, rule) pairs: pairs whose
    * sets share at least one element. */
  private def containment(stages: Map[String, DataFrame]): Map[String, Double] = {
    val phen = stages("genePhenotype").select("patient_id", "het_combo", "gene_name",
      "phenotype_name").collect().groupBy(r => (r.getString(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(r => (r.getString(2), r.getString(3))).toSet }
    val geno = stages("genotype").select("patient_id", "het_combo", "gene_name",
      "haplotype_name1", "haplotype_name2").collect().groupBy(r => (r.getString(0), r.getInt(1)))
      .map { case (k, rs) => k -> rs.map(r => (r.getString(2), r.getString(3), r.getString(4))).toSet }
    val candidates =
      phen.values.map(have => panel.phenoRules.count(_._2.exists(have))).sum +
        geno.values.map(have => panel.genoRules.count(_._2.exists(have))).sum
    val recs = stages("phenotypeDrugRecommendation").count() +
      stages("genotypeDrugRecommendation").count()
    Map("pipeline.containment_yield" -> (if (candidates == 0) 0.0 else recs.toDouble / candidates))
  }

  /** Disambiguation and haplotype calling replayed single-threaded over the
    * op's call groups, outside the op's timing. */
  private def replayAlgo(file: Genomics.VariantFile): Map[String, Double] = {
    var disNanos, callNanos = 0L
    var disCalls, combos, attempted, unambiguous = 0L
    file.groups.foreach { g =>
      val m = matrices(g.gene)
      val (homs, hets) = g.calls.partition(c => c._2 == c._3)
      val homVars = homs.map(c => Variant(c._1, c._2))
      val phased: Seq[(Vector[Variant], Vector[Variant])] =
        if (hets.isEmpty) Seq((Vector.empty, Vector.empty))
        else {
          val t0 = System.nanoTime()
          val d = Disambiguate.disambiguateHets(m,
            hets.flatMap(c => Seq(Variant(c._1, c._2), Variant(c._1, c._3))))
          disNanos += System.nanoTime() - t0
          disCalls += 1; combos += d.comboCount
          d.allCombos.map { combo =>
            val (a, b) = combo.partition(_.physicalChromosome == "A")
            (a.map(v => Variant(v.snpId, v.allele)).toVector,
              b.map(v => Variant(v.snpId, v.allele)).toVector)
          }
        }
      phased.foreach { case (a, b) =>
        Seq(a, b).foreach { chrom =>
          val t0 = System.nanoTime()
          val r = m.variantsToHaplotypes(homVars ++ chrom)
          callNanos += System.nanoTime() - t0
          if (r.isDefined) attempted += 1
          if (r.exists(_.size <= 1)) unambiguous += 1
        }
      }
    }
    Map(
      "algo.disambiguate_s" -> disNanos / 1e9,
      "algo.disambiguate_calls" -> disCalls.toDouble,
      "algo.combos_per_call" -> (if (disCalls == 0) 0.0 else combos.toDouble / disCalls),
      "algo.call_s" -> callNanos / 1e9,
      "pipeline.call_yield" -> (if (attempted == 0) 0.0 else unambiguous.toDouble / attempted))
  }
}

final class CurationWorkload(p: Corpus.Params) extends Workload {
  import Workload._

  val name = "corpus_curation"
  private val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))
  private val EvalSchema = StructType(Seq(StructField("eval_id", LongType),
    StructField("text", StringType)))
  private var shards: Vector[Corpus.Shard] = _
  private var eval: DataFrame = _

  def pool: Int = p.shards
  def records(input: Int): Long = shards(input).docs.toLong
  def inputPath(input: Int): Path = shards(input).path

  def setup(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new Random(seed)
    val vocab = Corpus.vocabulary(p.vocabulary, rnd)
    val passages = Corpus.evalSet(p, vocab, rnd)
    val boiler = Corpus.boilerplate(p, vocab, rnd)
    val evalPath = dir.resolve("eval.jsonl")
    Corpus.writeEval(passages, evalPath)
    shards = Vector.tabulate(p.shards)(s =>
      Corpus.shard(p, s, vocab, boiler, passages, dir.resolve(f"shards/shard$s%02d.jsonl"), rnd))
    eval = JsonLines.read(spark, evalPath.toString, EvalSchema)
  }

  def op(spark: SparkSession, input: Int, path: Path, opNo: Int, t: Tracer): OpResult = {
    import spark.implicits._
    val shard = shards(input)
    val held = mutable.ArrayBuffer.empty[DataFrame]
    val counts = mutable.Map.empty[String, Double]
    val docs = t.span("io.read") {
      val df = JsonLines.read(spark, path.toString, DocSchema)
      if (t.enabled) counts("io.read_rows") = df.count().toDouble
      df
    }
    val stripped = t.span("ops.strip_boilerplate")(force(t, held,
      Curation.stripBoilerplate(docs, "doc_id", "text", "\n", Left(shard.docs / 20L))))
    val deduped = t.span("ops.exact_dedup")(force(t, held,
      Dedup.exactDedup(stripped, "doc_id", "text_clean")))
    val pairs = t.span("ops.near_dup") {
      Dedup.minHashNearDuplicates(deduped, "doc_id", "text_clean",
          threshold = Corpus.Threshold, numHashes = Corpus.NumHashes, bands = Corpus.Bands,
          shingleLen = 3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val kept = deduped.join(pairs.toSeq.map(_._2).toDF("doc_id"), Seq("doc_id"), "left_anti")
    val decon = t.span("ops.decontaminate")(force(t, held,
      Curation.decontaminate(kept, "doc_id", "text_clean", eval, "text", n = Corpus.DeconN)))
    val packed = t.span("ops.pack") {
      Curation.packSequences(decon.join(docs.select("doc_id", "source"), "doc_id"),
          "doc_id", TextFunctions.tokenCount(col("text_clean")), "source", seqLen = 64)
        .select("doc_id", "seq_id").as[(Long, Long)].collect()
    }
    OpResult(
      check = () => Check.curation(shard, packed.map(_._1).toSet, pairs),
      release = () => held.foreach(_.unpersist()),
      counts = () => {
        val candidates = Dedup.minHashCandidatePairs(deduped, "doc_id", "text_clean",
          numHashes = Corpus.NumHashes, bands = Corpus.Bands, shingleLen = 3).count()
        counts("ops.near_dup_candidates") = candidates.toDouble
        counts("ops.near_dup_verified") = pairs.size.toDouble
        counts("ops.near_dup_yield") =
          if (candidates == 0) 0.0 else pairs.size.toDouble / candidates
        counts.toMap
      })
  }
}
