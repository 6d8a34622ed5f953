package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.broadcast.Broadcast
import graft.algo.GeneHaplotypeMatrix

/** The 5 reference/lookup tables the pipeline joins against, and every view
  * the pipeline and reports derive from them.
  *
  * `gene_haplotype_variant` is read ONCE per instance, on first use, into
  * the per-gene gene–haplotype matrices; the broadcast matrices, the
  * `gene_snp` view (the reference's `select distinct` MERGE view,
  * `haplorec.sql.jinja:59-67`) and each gene's SNP list all come from that
  * one driver-side build. Reference tables are small (largest real gene
  * matrix is 133×151, `todo.txt:321-323`), so broadcasting the matrices
  * replaces the reference's per-(gene, patient) SQL round trips
  * (`Pipeline.groovy:230-316`) with executor-local map lookups, and a
  * caller that keeps one instance for many jobs builds them once.
  */
final class ReferenceTables(
    val drugRecommendation: DataFrame,
    val genePhenotypeDrugRecommendation: DataFrame,
    val geneHaplotypeVariant: DataFrame,
    val genotypePhenotype: DataFrame,
    val genotypeDrugRecommendation: DataFrame
) {

  private lazy val geneMatrices: Map[String, GeneHaplotypeMatrix] =
    ReferenceTables.buildMatrices(geneHaplotypeVariant)

  /** The per-gene matrices, broadcast once per instance. Executor closures
    * capture this handle, never the `ReferenceTables` itself. */
  lazy val matrices: Broadcast[Map[String, GeneHaplotypeMatrix]] =
    geneHaplotypeVariant.sparkSession.sparkContext.broadcast(geneMatrices)

  /** `gene_snp` view: distinct (gene_name, snp_id) (`haplorec.sql.jinja:59-67`),
    * a driver-resident frame, so every broadcast of it builds without a job. */
  lazy val geneSnp: DataFrame = {
    val rows = geneMatrices.toSeq.sortBy(_._1).flatMap { case (g, m) =>
      m.snpIds.map(s => Row(g, s))
    }
    geneHaplotypeVariant.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*),
      geneHaplotypeVariant.select("gene_name", "snp_id").schema)
  }

  /** Each gene's SNPs in unsigned-UTF-8 order — Spark's string order, so
    * the order `pivot("snp_id")` would infer. */
  lazy val snpsByGene: Map[String, Seq[String]] = geneMatrices.map { case (g, m) =>
    g -> m.snpIds.sortWith((a, b) => java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0)
  }
}

object ReferenceTables {
  def apply(
      drugRecommendation: DataFrame,
      genePhenotypeDrugRecommendation: DataFrame,
      geneHaplotypeVariant: DataFrame,
      genotypePhenotype: DataFrame,
      genotypeDrugRecommendation: DataFrame): ReferenceTables =
    new ReferenceTables(
      drugRecommendation,
      genePhenotypeDrugRecommendation,
      geneHaplotypeVariant,
      genotypePhenotype,
      genotypeDrugRecommendation)

  /** Build every gene's matrix from `(gene_name, haplotype_name, snp_id,
    * allele)` rows with no shuffle.
    *
    *  1. Rows are dictionary-encoded in parts of at most 65535 rows: per-part
    *     name dictionaries plus one packed 16-bit×4 long per row. A part can
    *     hold at most 65535 distinct names per dimension, so every code fits
    *     its 16-bit field whatever the table's size or partitioning. A
    *     driver-resident frame is encoded from its collected rows (no Spark
    *     job); any other frame is encoded per partition by one
    *     `mapPartitions` job, and the driver collects only packed primitives
    *     and dictionary-sized string arrays.
    *  2. The driver merges the per-part dictionaries (sorted with
    *     `java.lang.String` ordering — each matrix's row and column order),
    *     translates part codes to global ones, and fills the per-gene cell
    *     arrays with primitive loops. The part split is not observable.
    */
  private def buildMatrices(ghv: DataFrame): Map[String, GeneHaplotypeMatrix] = {
    val spark = ghv.sparkSession
    import spark.implicits._
    val base = ghv.select("gene_name", "haplotype_name", "snp_id", "allele")
    val partRows = 65535
    def encodePart(rows: Seq[(String, String, String, String)])
        : (Array[String], Array[String], Array[String], Array[String], Array[Long]) = {
      val gd = new java.util.LinkedHashMap[String, Integer]()
      val hd = new java.util.LinkedHashMap[String, Integer]()
      val sd = new java.util.LinkedHashMap[String, Integer]()
      val ad = new java.util.LinkedHashMap[String, Integer]()
      def code(m: java.util.LinkedHashMap[String, Integer], s: String): Long = {
        var v = m.get(s)
        if (v == null) { v = Integer.valueOf(m.size); m.put(s, v) }
        v.longValue()
      }
      val packed = rows.iterator.map(r =>
        (code(gd, r._1) << 48) | (code(hd, r._2) << 32) |
          (code(sd, r._3) << 16) | code(ad, r._4)).toArray
      def keys(m: java.util.LinkedHashMap[String, Integer]) =
        m.keySet.toArray(new Array[String](0))
      (keys(gd), keys(hd), keys(sd), keys(ad), packed)
    }
    val parts: Array[(Array[String], Array[String], Array[String], Array[String], Array[Long])] =
      if (base.queryExecution.optimizedPlan
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) {
        base.collect().iterator // driver-resident rows: no job
          .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
          .grouped(partRows).map(encodePart).toArray
      } else {
        base.as[(String, String, String, String)]
          .mapPartitions(_.grouped(partRows).map(encodePart))
          .collect()
      }
    // Global dictionaries, sorted with java.lang.String ordering.
    val genes: Array[String] = parts.flatMap(_._1).distinct.sorted
    val haps: Array[String] = parts.flatMap(_._2).distinct.sorted
    val snps: Array[String] = parts.flatMap(_._3).distinct.sorted
    val alleles: Array[String] = parts.flatMap(_._4).distinct.sorted
    def idx(values: Array[String]): java.util.HashMap[String, Int] = {
      val m = new java.util.HashMap[String, Int](values.length * 2)
      var i = 0
      while (i < values.length) { m.put(values(i), i); i += 1 }
      m
    }
    val (gi, hi, si, ai) = (idx(genes), idx(haps), idx(snps), idx(alleles))
    // per-partition local→global translation tables
    def trans(local: Array[String], global: java.util.HashMap[String, Int]) =
      local.map(global.get(_): Int)
    val gT = parts.map(p => trans(p._1, gi))
    val hT = parts.map(p => trans(p._2, hi))
    val sT = parts.map(p => trans(p._3, si))
    val aT = parts.map(p => trans(p._4, ai))
    // pass 1: per-gene presence of global hap/snp codes (sorted-global
    // code order == sorted-name order, so per-gene sorted distinct =
    // filtered global order)
    val hapSeen = Array.fill(genes.length)(new java.util.BitSet(haps.length))
    val snpSeen = Array.fill(genes.length)(new java.util.BitSet(snps.length))
    locally {
      var p = 0
      while (p < parts.length) {
        val (gt, ht, st) = (gT(p), hT(p), sT(p))
        val packed = parts(p)._5
        var i = 0
        while (i < packed.length) { // while-loops: no per-element boxing
          val v = packed(i)
          val g = gt((v >>> 48).toInt)
          hapSeen(g).set(ht(((v >>> 32) & 0xffff).toInt))
          snpSeen(g).set(st(((v >>> 16) & 0xffff).toInt))
          i += 1
        }
        p += 1
      }
    }
    def codesOf(bs: java.util.BitSet): Array[Int] = {
      val out = new Array[Int](bs.cardinality())
      var i = bs.nextSetBit(0); var o = 0
      while (i >= 0) { out(o) = i; o += 1; i = bs.nextSetBit(i + 1) }
      out
    }
    // local (per-gene) index of each global code; -1 = absent
    val hapLocal = Array.tabulate(genes.length) { g =>
      val local = Array.fill(haps.length)(-1)
      codesOf(hapSeen(g)).zipWithIndex.foreach { case (c, i) => local(c) = i }
      local
    }
    val snpLocal = Array.tabulate(genes.length) { g =>
      val local = Array.fill(snps.length)(-1)
      codesOf(snpSeen(g)).zipWithIndex.foreach { case (c, i) => local(c) = i }
      local
    }
    // Per-gene allele dictionaries keep first-use order — internal and
    // not observable (consumers dereference cells to strings).
    val alleleLocal = Array.fill(genes.length)(Array.fill(alleles.length)(-1))
    val alleleDicts = Array.fill(genes.length)(
      new scala.collection.mutable.ArrayBuffer[String]())
    val nSnpsByGene = Array.tabulate(genes.length)(g => snpSeen(g).cardinality())
    val cellsByGene = Array.tabulate(genes.length) { g =>
      Array.fill[Short](hapSeen(g).cardinality() * nSnpsByGene(g))(-1)
    }
    // pass 2: cell fill
    locally {
      var p = 0
      while (p < parts.length) {
        val (gt, ht, st, at) = (gT(p), hT(p), sT(p), aT(p))
        val packed = parts(p)._5
        var i = 0
        while (i < packed.length) {
          val v = packed(i)
          val g = gt((v >>> 48).toInt)
          val h = hapLocal(g)(ht(((v >>> 32) & 0xffff).toInt))
          val sI = snpLocal(g)(st(((v >>> 16) & 0xffff).toInt))
          val aGlobal = at((v & 0xffff).toInt)
          var aL = alleleLocal(g)(aGlobal)
          if (aL < 0) {
            aL = alleleDicts(g).length
            require(aL <= Short.MaxValue, "allele dictionary overflow")
            alleleDicts(g) += alleles(aGlobal)
            alleleLocal(g)(aGlobal) = aL
          }
          cellsByGene(g)(h * nSnpsByGene(g) + sI) = aL.toShort
          i += 1
        }
        p += 1
      }
    }
    genes.indices.map { g =>
      genes(g) -> GeneHaplotypeMatrix(
        genes(g),
        codesOf(snpSeen(g)).map(snps(_)).toVector,
        codesOf(hapSeen(g)).map(haps(_)).toVector,
        alleleDicts(g).toVector,
        cellsByGene(g))
    }.toMap
  }
}
