package perfbench

/** Output checks against the planted answers. Each returns the problems it
  * found; an op passes when the list is empty. */
object Check {

  /** What a genomics op returned, collected on the driver. */
  final case class GenomicsOut(
      genotypes: Set[(String, String, String, Option[String])], // patient, gene, h1, h2
      phenoRecs: Set[(String, Long)],
      genoRecs: Set[(String, Long)],
      reports: ReportsOut)

  final case class ReportsOut(
      phenotypePatients: Set[String],
      genotypePatients: Set[String],
      novel: Set[(String, String)]) // (gene, patient)

  def expectedRecs(panel: Genomics.Panel, planted: Seq[Genomics.Planted])
      : (Set[(String, Long)], Set[(String, Long)]) = {
    val known = planted.filter(_.second.isDefined).groupBy(_.patient)
    val pheno = for {
      (patient, ps) <- known.toSeq
      have = ps.map(p => (p.gene, panel.phenotype((p.gene, p.genotype._1, p.genotype._2.get)))).toSet
      (id, reqs) <- panel.phenoRules if reqs.forall(have)
    } yield (patient, id)
    val geno = for {
      (patient, ps) <- known.toSeq
      have = ps.map(p => (p.gene, p.genotype._1, p.genotype._2.get)).toSet
      (id, reqs) <- panel.genoRules if reqs.forall(have)
    } yield (patient, id)
    (pheno.toSet, geno.toSet)
  }

  def genomics(panel: Genomics.Panel, planted: Seq[Genomics.Planted],
      out: GenomicsOut): Vector[String] = {
    val problems = Vector.newBuilder[String]
    planted.foreach { p =>
      val (h1, h2) = p.genotype
      if (!out.genotypes.contains((p.patient, p.gene, h1, h2)))
        problems += s"planted genotype $h1/${h2.getOrElse("novel")} of ${p.patient} ${p.gene} not called"
    }
    val (pheno, geno) = expectedRecs(panel, planted)
    def compare(kind: String, want: Set[(String, Long)], got: Set[(String, Long)]): Unit = {
      (want -- got).toSeq.sorted.take(5).foreach(r => problems += s"missing $kind recommendation $r")
      (got -- want).toSeq.sorted.take(5).foreach(r => problems += s"unexpected $kind recommendation $r")
    }
    compare("phenotype", pheno, out.phenoRecs)
    compare("genotype", geno, out.genoRecs)
    val r = out.reports
    (pheno.map(_._1) -- r.phenotypePatients).toSeq.sorted.take(5).foreach(p =>
      problems += s"patient $p missing from the phenotype report")
    (geno.map(_._1) -- r.genotypePatients).toSeq.sorted.take(5).foreach(p =>
      problems += s"patient $p missing from the genotype report")
    planted.filter(_.second.isEmpty).map(p => (p.gene, p.patient))
      .filterNot(r.novel).take(5).foreach(n =>
        problems += s"novel haplotype $n missing from the novel-haplotype report")
    problems.result()
  }

  def curation(shard: Corpus.Shard, survivors: Set[Long],
      pairs: Set[(Long, Long)]): Vector[String] = {
    val problems = Vector.newBuilder[String]
    shard.dupGroups.foreach { g =>
      val kept = g.count(survivors)
      if (kept != 1) problems += s"exact-duplicate group ${g.mkString(",")} keeps $kept documents"
    }
    shard.nearPairs.filterNot(pairs).foreach(p => problems += s"near-duplicate pair $p not found")
    shard.contaminated.filter(survivors).foreach(d => problems += s"contaminated document $d kept")
    (shard.expectedSurvivors -- survivors).toSeq.sorted.take(5).foreach(d =>
      problems += s"clean document $d dropped")
    (survivors -- shard.expectedSurvivors).toSeq.sorted.take(5).foreach(d =>
      problems += s"document $d survived but was planted for removal")
    problems.result()
  }
}
