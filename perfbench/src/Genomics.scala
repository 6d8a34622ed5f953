package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded genomics inputs: a haplotype panel, the reference tables derived
  * from it, and variant files of patients whose haplotype pairs are known.
  *
  * Panel shape, per gene:
  *  - `*1` carries the reference allele at every SNP.
  *  - `typed` common alleles `*2..*(typed+1)`. Allele `*k` carries the alt
  *    allele at its tag SNP and at a backup tag SNP (both on the assay), the
  *    reference allele at the other assayed SNPs, and the alt allele at 0-2
  *    defining SNPs off the assay. The tag alone identifies `*k`. Empty
  *    cells are planted only on backup tags, so every planted pair stays
  *    identifiable.
  *  - the remaining haplotypes are rare: each defines only its own tag SNP
  *    and 0-2 other SNPs off the assay, so assayed calls exclude it.
  *
  * The matrices have the reference's dimensions, with PharmGKB-like sparse
  * allele definitions (blank cells where an allele defines nothing).
  *
  * Patients draw two common haplotypes with skewed frequencies. A fixed
  * number of patient-genes per file replace the second haplotype by a novel
  * one: `*1` with an unseen allele at one assayed SNP. A share of backup-tag
  * cells, and of the control assays outside the panel, are left empty.
  */
object Genomics {

  final case class Params(
      genes: Int,          // genes in the panel
      assayGenes: Int,     // genes the variant files call (first N genes)
      largest: (Int, Int), // (haplotypes, snps) of gene 1
      minHaps: Int,
      minSnps: Int,
      typed: Int,          // common alleles per gene besides *1 (>= 3)
      controls: Int,       // control assays per sample, outside the panel
      samples: Int,        // samples per variant file
      files: Int,          // distinct variant files in the op pool
      novel: Int,          // novel haplotypes per file, on genes taken in turn
      emptyRate: Double,   // share of backup-tag and control cells left empty
      phenoRules: Int,     // gene-phenotype drug rules (1-3 genes each)
      genoRules: Int)      // genotype drug rules (1-2 genes each)

  final case class Gene(
      name: String,
      snps: Vector[String],
      ref: Array[Char],
      alt: Array[Char],
      unseen: Array[Char],
      haps: Vector[String],
      cells: Array[Array[Char]], // haplotype x snp, 0 = blank
      activity: Vector[Double])  // per common haplotype index 0..typed

  /** One patient-gene's planted truth. `second = None` marks a novel
    * haplotype on chromosome B. */
  final case class Planted(patient: String, gene: String, first: String,
      second: Option[String]) {
    def genotype: (String, Option[String]) = second match {
      case Some(s) => if (first.compareTo(s) <= 0) (first, Some(s)) else (s, Some(first))
      case None => (first, None)
    }
  }

  /** One patient-gene's non-empty calls: (snp, allele on A, allele on B). */
  final case class CallGroup(gene: String, calls: Vector[(String, String, String)])

  /** Generated variant file and what the pipeline must find in it. */
  final case class VariantFile(path: Path, lines: Int, planted: Vector[Planted],
      groups: Vector[CallGroup])

  final case class Panel(genes: Vector[Gene], typed: Int,
      phenotype: Map[(String, String, String), String],   // (gene, h1, h2) -> phenotype
      phenoRules: Vector[(Long, Vector[(String, String)])],     // id -> (gene, phenotype)
      genoRules: Vector[(Long, Vector[(String, String, String)])]) // id -> (gene, h1, h2)

  private val Bases = "ACGT"

  private def phenotypeOf(score: Double): String =
    if (score >= 2.0) "normal metabolizer"
    else if (score >= 1.0) "intermediate metabolizer"
    else "poor metabolizer"

  def panel(p: Params, rnd: Random): Panel = {
    require(p.typed >= 3, "three or more common alleles keep *1 calls unambiguous")
    val genes = (0 until p.genes).toVector.map { g =>
      val (nHaps, nSnps) =
        if (g == 0) p.largest
        else {
          val h = p.minHaps + rnd.nextInt(p.largest._1 - p.minHaps + 1)
          val floor = math.max(p.minSnps, h + 2 * p.typed)
          (h, floor + rnd.nextInt(math.max(1, p.largest._2 - floor + 1)))
        }
      val assayed = 2 * p.typed
      require(nSnps - assayed >= nHaps, s"gene $g: too few SNPs for unique tags")
      val snps = Vector.tabulate(nSnps)(s => s"rs${(g + 1) * 1000 + s}")
      val ref = Array.fill(nSnps)(Bases(rnd.nextInt(4)))
      val alt = ref.map(r => Bases.filter(_ != r)(rnd.nextInt(3)))
      val unseen = ref.indices.map(i =>
        Bases.filter(b => b != ref(i) && b != alt(i))(rnd.nextInt(2))).toArray
      val cells = Array.tabulate(nHaps) { h =>
        // allele definitions are sparse, as in PharmGKB tables: *1 defines
        // every SNP, other alleles only the SNPs they are called or defined at
        val row = if (h == 0) ref.clone() else Array.fill(nSnps)(0.toChar)
        def offAssay(): Int = assayed + rnd.nextInt(nSnps - assayed)
        if (h >= 1 && h <= p.typed) {
          (0 until assayed).foreach(s => row(s) = ref(s))
          row(2 * (h - 1)) = alt(2 * (h - 1))
          row(2 * (h - 1) + 1) = alt(2 * (h - 1) + 1)
          (0 until rnd.nextInt(3)).foreach { _ => val s = offAssay(); row(s) = alt(s) }
        } else if (h > p.typed) {
          val tag = assayed + (h - p.typed - 1) // unique off-assay tag
          row(tag) = alt(tag)
          (0 until rnd.nextInt(3)).foreach { _ => val s = offAssay(); row(s) = alt(s) }
        }
        row
      }
      val activity = Vector.tabulate(p.typed + 1)(h =>
        if (h == 0) 1.0 else Vector(0.0, 0.5, 1.0)(rnd.nextInt(3)))
      Gene(f"G$g%03d", snps, ref, alt, unseen,
        Vector.tabulate(nHaps)(h => s"*${h + 1}"), cells, activity)
    }
    val phenotype = (for {
      gene <- genes
      i <- 0 to p.typed
      j <- i to p.typed
    } yield {
      val (a, b) = (gene.haps(i), gene.haps(j))
      val (h1, h2) = if (a.compareTo(b) <= 0) (a, b) else (b, a)
      (gene.name, h1, h2) -> phenotypeOf(gene.activity(i) + gene.activity(j))
    }).toMap
    val assayed = genes.take(p.assayGenes)
    def pickGenes(n: Int): Vector[Gene] =
      rnd.shuffle(assayed).take(math.min(n, assayed.size))
    val phenoChoices = Vector("normal metabolizer", "intermediate metabolizer",
      "poor metabolizer")
    val phenoRules = Vector.tabulate(p.phenoRules) { r =>
      (r + 1L, pickGenes(1 + rnd.nextInt(3)).map(g =>
        g.name -> phenoChoices(rnd.nextInt(phenoChoices.size))))
    }
    val genoRules = Vector.tabulate(p.genoRules) { r =>
      (p.phenoRules + r + 1L, pickGenes(1 + rnd.nextInt(2)).map { g =>
        val a = g.haps(rnd.nextInt(p.typed + 1))
        val b = g.haps(rnd.nextInt(p.typed + 1))
        if (a.compareTo(b) <= 0) (g.name, a, b) else (g.name, b, a)
      })
    }
    Panel(genes, p.typed, phenotype, phenoRules, genoRules)
  }

  private def writeLines(path: Path, lines: Iterator[String]): Int = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    var n = 0
    try lines.foreach { l => w.write(l); w.write('\n'); n += 1 }
    finally w.close()
    n
  }

  /** Reference tables as TSV files with headers; returns table -> path. */
  def writeReferenceTables(panel: Panel, dir: Path): Map[String, Path] = {
    val ruleIds = panel.phenoRules.map(_._1) ++ panel.genoRules.map(_._1)
    val files = Map(
      "drug_recommendation" -> (Iterator("id\tdrug_name\timplications\trecommendation\tclassification\tdiplotype_egs") ++
        // drug names sort in id order: reports number drug rows by sort order
        ruleIds.iterator.map(id => f"$id\tdrug$id%05d\timplication $id\tdose as label $id\toptional\t*1/*2")),
      "gene_phenotype_drug_recommendation" -> (Iterator("gene_name\tphenotype_name\tdrug_recommendation_id") ++
        panel.phenoRules.iterator.flatMap { case (id, reqs) =>
          reqs.iterator.map { case (g, ph) => s"$g\t$ph\t$id" } }),
      "gene_haplotype_variant" -> (Iterator("gene_name\thaplotype_name\tsnp_id\tallele") ++
        panel.genes.iterator.flatMap { g =>
          g.haps.indices.iterator.flatMap { h =>
            g.snps.indices.iterator.collect {
              case s if g.cells(h)(s) != 0 => s"${g.name}\t${g.haps(h)}\t${g.snps(s)}\t${g.cells(h)(s)}"
            }
          }
        }),
      "genotype_phenotype" -> (Iterator("gene_name\thaplotype_name1\thaplotype_name2\tphenotype_name") ++
        panel.phenotype.toSeq.sorted.iterator.map { case ((g, a, b), ph) => s"$g\t$a\t$b\t$ph" }),
      "genotype_drug_recommendation" -> (Iterator("gene_name\thaplotype_name1\thaplotype_name2\tdrug_recommendation_id") ++
        panel.genoRules.iterator.flatMap { case (id, reqs) =>
          reqs.iterator.map { case (g, a, b) => s"$g\t$a\t$b\t$id" } }))
    files.map { case (name, lines) =>
      val path = dir.resolve(s"$name.tsv")
      writeLines(path, lines)
      name -> path
    }
  }

  val VariantHeader: String = Seq("PLATE", "EXPERIMENT", "CHIP",
    "WELL_POSITION", "ASSAY_ID", "GENOTYPE_ID", "DESCRIPTION", "SAMPLE_ID",
    "ENTRY_OPERATOR").mkString("\t")

  /** Haplotype-pair weights: `*1` most common, then geometrically rarer. */
  private def drawHaplotype(typed: Int, rnd: Random): Int = {
    val u = rnd.nextDouble()
    if (u < 0.55) 0 else 1 + math.min(typed - 1, (-math.log(rnd.nextDouble()) / 0.9).toInt)
  }

  /** One variant file of `p.samples` patients over the assayed genes. */
  def variantFile(panel: Panel, p: Params, fileNo: Int, path: Path,
      rnd: Random): VariantFile = {
    val typed = panel.typed
    val planted = Vector.newBuilder[Planted]
    val groups = Vector.newBuilder[CallGroup]
    val novelAt = rnd.shuffle((0 until p.samples).toVector).take(p.novel).zipWithIndex
      .map { case (sample, k) => (sample, k % p.assayGenes) }.toSet
    val lines = Iterator.single(VariantHeader) ++
      (0 until p.samples).iterator.flatMap { sIdx =>
        val patient = f"P$fileNo%03d_$sIdx%04d"
        val well = f"${('A' + sIdx / 12 % 8).toChar}${sIdx % 12 + 1}%02d"
        def line(snp: String, call: String) =
          s"plate$fileNo\texp1\tchip${sIdx / 96}\t$well\t$snp\t$call\tassay\t$patient\top"
        val geneLines = panel.genes.iterator.take(p.assayGenes).zipWithIndex.flatMap { case (g, gIdx) =>
          val a = drawHaplotype(typed, rnd)
          val novel = novelAt((sIdx, gIdx))
          val b = if (novel) 0 else drawHaplotype(typed, rnd)
          // novel haplotype: *1 with an unseen allele at another allele's tag
          val novelSnp =
            if (!novel) -1
            else {
              val others = (1 to typed).filter(_ != a)
              2 * (others(rnd.nextInt(others.size)) - 1)
            }
          planted += Planted(patient, g.name, g.haps(a),
            if (novel) None else Some(g.haps(b)))
          val calls = Vector.newBuilder[(String, String, String)]
          val out = (0 until 2 * typed).toVector.map { s =>
            val x = g.cells(a)(s)
            val y = if (s == novelSnp) g.unseen(s) else g.cells(b)(s)
            val backupTag = s % 2 == 1
            if (backupTag && rnd.nextDouble() < p.emptyRate) line(g.snps(s), "")
            else {
              calls += ((g.snps(s), x.toString, y.toString))
              line(g.snps(s),
                if (x == y) x.toString else if (rnd.nextBoolean()) s"$x$y" else s"$y$x")
            }
          }
          groups += CallGroup(g.name, calls.result())
          out
        }
        val controlLines = (0 until p.controls).iterator.map { c =>
          val call =
            if (rnd.nextDouble() < p.emptyRate * 4) ""
            else Bases(rnd.nextInt(4)).toString
          line(s"rs${900000 + c}", call)
        }
        geneLines ++ controlLines
      }
    val n = writeLines(path, lines) - 1
    VariantFile(path, n, planted.result(), groups.result())
  }
}
