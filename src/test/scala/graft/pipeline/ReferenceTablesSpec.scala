package graft.pipeline

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.{LoadBench, TestScratch}

/** How reference data is held: the matrix build's two row sources
  * (driver-resident literal and distributed frame) and its once-per-instance
  * memo.
  */
class ReferenceTablesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-reference-tables-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def refsWith(ghv: DataFrame): ReferenceTables = {
    val e = LoadBench.emptyRefs(spark)
    ReferenceTables(e.drugRecommendation, e.genePhenotypeDrugRecommendation, ghv,
      e.genotypePhenotype, e.genotypeDrugRecommendation)
  }

  private def onDisk(name: String, df: DataFrame): DataFrame = {
    val path = s"${TestScratch.dir("graft-reference-tables")}/$name"
    df.coalesce(1).write.parquet(path) // one file: one input partition
    spark.read.parquet(path)
  }

  /** Hom calls of each `(patient, rs1 allele, rs2 allele)` on both chromosomes. */
  private def homVariants(calls: Seq[(String, String, String)]): DataFrame = {
    import spark.implicits._
    calls.flatMap { case (p, a1, a2) =>
      for (chrom <- Seq("A", "B"); (snp, a) <- Seq(("rs1", a1), ("rs2", a2)))
        yield (p, chrom, snp, a, "hom")
    }.toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
  }

  private def calledHaplotypes(stages: Map[String, DataFrame]): Set[(String, String, String)] =
    stages("geneHaplotype").select("patient_id", "physical_chromosome", "haplotype_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet

  test("literal and parquet refs with 65536+ distinct haplotype names build and call") {
    import spark.implicits._
    // One gene, 70000 haplotypes over two SNPs: haplotype i carries allele
    // i / 256 at rs1 and i % 256 at rs2, so each allele pair names one haplotype.
    val nHaps = 70000
    val literal = (0 until nHaps).flatMap { i =>
      val h = f"h$i%05d"
      Seq(("g1", h, "rs1", (i / 256).toString), ("g1", h, "rs2", (i % 256).toString))
    }.toDF("gene_name", "haplotype_name", "snp_id", "allele")
    def allelesOf(i: Int) = ((i / 256).toString, (i % 256).toString)
    val picks = Seq(0, 258, 65535, 65536, nHaps - 1)
    val variants = homVariants(picks.map { i =>
      val (a1, a2) = allelesOf(i); (s"p$i", a1, a2) })
    val expected = picks.flatMap(i => Seq("A", "B").map(c => (s"p$i", c, f"h$i%05d"))).toSet
    Seq(literal, onDisk("wide_ghv", literal)).foreach { ghv =>
      val stages = Pipeline.runJob(spark, refsWith(ghv), 1L, variants = Some(variants))
      assert(calledHaplotypes(stages) == expected)
    }
  }

  test("a second runJob on the same ReferenceTables does not rebuild the matrices") {
    import spark.implicits._
    val ghv = onDisk("ghv", Seq(
      ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
      ("g1", "*2", "rs1", "C"), ("g1", "*2", "rs2", "G"))
      .toDF("gene_name", "haplotype_name", "snp_id", "allele"))
    val refs = refsWith(ghv)
    // Jobs whose call site (their stages' name) is the matrix build, counted
    // between two marker jobs so every event of the block has been delivered.
    val sites = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.map(_.name).mkString(" "))
    }
    val sc = spark.sparkContext
    def marker(name: String): Unit = {
      sc.setCallSite(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearCallSite()
      val deadline = System.currentTimeMillis() + 30000
      while (!sites.contains(name) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(sites.contains(name), s"listener never saw $name")
    }
    def buildJobs(block: => Unit): Int = {
      marker("before"); sites.clear()
      block
      marker("after")
      val seen = sites.toArray(new Array[String](0))
      seen.takeWhile(_ != "after").count(_.contains("ReferenceTables.scala"))
    }
    sc.addSparkListener(listener)
    try {
      val first = buildJobs {
        Pipeline.runJob(spark, refs, 1L, variants = Some(homVariants(Seq(("p1", "A", "G")))))
      }
      val second = buildJobs {
        val stages = Pipeline.runJob(spark, refs, 2L,
          variants = Some(homVariants(Seq(("p2", "C", "G")))))
        assert(calledHaplotypes(stages) == Set(("p2", "A", "*2"), ("p2", "B", "*2")))
      }
      assert(first > 0, "the first runJob encodes the parquet-backed frame")
      assert(second == 0)
    } finally sc.removeSparkListener(listener)
  }
}
