package perfbench

import java.nio.file.{Files, Path}
import scala.util.Random

/** Self-tests of the benchmark's own code: generator determinism, checker
  * sensitivity, self-time arithmetic and the tail percentile. No Spark
  * session is needed. */
object SelfTest {

  private val genomics = Genomics.Params(genes = 6, assayGenes = 3, largest = (30, 45),
    minHaps = 8, minSnps = 20, typed = 3, controls = 2, samples = 40, files = 2,
    novel = 4, emptyRate = 0.1, phenoRules = 30, genoRules = 10)
  private val corpus = Corpus.Params(docs = 300, shards = 1, dupGroups = 5, nearPairs = 5,
    farPairs = 3, contaminated = 4, evalPassages = 5, boilerLines = 4, vocabulary = 500)

  private def generate(dir: Path, seed: Long): (Genomics.Panel, Genomics.VariantFile, Corpus.Shard) = {
    val rnd = new Random(seed)
    val panel = Genomics.panel(genomics, rnd)
    Genomics.writeReferenceTables(panel, dir.resolve("reference"))
    val file = Genomics.variantFile(panel, genomics, 0, dir.resolve("variants.tsv"), rnd)
    val crnd = new Random(seed)
    val vocab = Corpus.vocabulary(corpus.vocabulary, crnd)
    val passages = Corpus.evalSet(corpus, vocab, crnd)
    Corpus.writeEval(passages, dir.resolve("eval.jsonl"))
    val shard = Corpus.shard(corpus, 0, vocab, Corpus.boilerplate(corpus, vocab, crnd),
      passages, dir.resolve("shard.jsonl"), crnd)
    (panel, file, shard)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  private var failures = 0
  private def expect(what: String, ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def run(work: Path): Unit = {
    Workload.deleteTree(work)
    val (panel, file, shard) = generate(work.resolve("a"), 7L)
    generate(work.resolve("b"), 7L)
    generate(work.resolve("c"), 8L)
    val (a, b, c) = (files(work.resolve("a")), files(work.resolve("b")), files(work.resolve("c")))
    expect("the same seed gives byte-identical inputs", a.nonEmpty && a == b)
    expect("another seed gives other inputs", a.keySet == c.keySet && a != c)

    // a correct genomics output, derived from the planted answers
    val (pheno, geno) = Check.expectedRecs(panel, file.planted)
    val good = Check.GenomicsOut(
      genotypes = file.planted.map(p => (p.patient, p.gene, p.genotype._1, p.genotype._2)).toSet,
      phenoRecs = pheno, genoRecs = geno,
      reports = Check.ReportsOut(pheno.map(_._1), geno.map(_._1),
        file.planted.filter(_.second.isEmpty).map(p => (p.gene, p.patient)).toSet))
    expect("the planted data has recommendations and novel haplotypes",
      pheno.nonEmpty && geno.nonEmpty && file.planted.exists(_.second.isEmpty))
    expect("the checker accepts the planted answer", Check.genomics(panel, file.planted, good).isEmpty)
    expect("the checker rejects a dropped recommendation",
      Check.genomics(panel, file.planted, good.copy(phenoRecs = pheno - pheno.head)).nonEmpty)
    expect("the checker rejects a wrong genotype",
      Check.genomics(panel, file.planted, good.copy(genotypes = good.genotypes.map {
        case (p, g, h1, h2) if p == file.planted.head.patient && g == file.planted.head.gene =>
          (p, g, h1, Some("*99"))
        case other => other
      })).nonEmpty)
    expect("the checker rejects a patient missing from a report",
      Check.genomics(panel, file.planted, good.copy(reports = good.reports.copy(
        phenotypePatients = good.reports.phenotypePatients - pheno.head._1))).nonEmpty)

    expect("the corpus shard plants every property", shard.dupGroups.nonEmpty &&
      shard.nearPairs.nonEmpty && shard.contaminated.nonEmpty)
    val pairs = shard.nearPairs.toSet
    expect("the checker accepts the planted curation answer",
      Check.curation(shard, shard.expectedSurvivors, pairs).isEmpty)
    expect("the checker rejects a kept duplicate",
      Check.curation(shard, shard.expectedSurvivors + shard.dupGroups.head.last, pairs).nonEmpty)
    expect("the checker rejects a missed near-duplicate pair",
      Check.curation(shard, shard.expectedSurvivors, pairs - pairs.head).nonEmpty)
    expect("the checker rejects a kept contaminated document",
      Check.curation(shard, shard.expectedSurvivors + shard.contaminated.head, pairs).nonEmpty)

    // op [0, 100) with children [10, 30) and [25, 60); the second has a child [40, 50)
    val spans = Seq(Span(0, "op", -1, 0, 0L, 100L), Span(1, "a", 0, 0, 10L, 30L),
      Span(2, "b", 0, 0, 25L, 60L), Span(3, "c", 2, 0, 40L, 50L))
    val self = Trace.selfTimes(spans)
    expect("self time subtracts the union of the children",
      self == Map(0 -> 50L, 1 -> 20L, 2 -> 25L, 3 -> 10L))
    expect("interval union merges overlaps",
      Trace.unionLength(Seq((0L, 5L), (3L, 8L), (10L, 12L), (11L, 11L))) == 10L)

    val latencies = (1 to 20).map(_.toDouble)
    expect("the tail is the highest percentile with ten samples beyond it",
      Main.tail(latencies) == ((10.0, 100.0 * 9 / 19, 10)))
    expect("with ten or fewer samples the tail is the largest",
      Main.tail(Seq(3.0, 1.0, 2.0)) == ((3.0, 100.0, 0)))

    Workload.deleteTree(work)
    println(s"""{"selftest_failures": $failures}""")
    if (failures > 0) sys.exit(1)
  }
}
