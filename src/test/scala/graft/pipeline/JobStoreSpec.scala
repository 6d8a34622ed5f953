package graft.pipeline

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Job-scoped storage: partition-by-job_id writes with idempotent
  * overwrite-by-job re-runs (reference `Pipeline.groovy:554-576`), plus
  * direct-input reader registry behavior.
  */
class JobStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-jobstore-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("re-running a job overwrites only its partition") {
    val root = graft.TestScratch.dir("graft-jobstore")
    val store = new JobStore(root)
    val j1 = Seq((1L, "p1", "g1", "*1")).toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    val j2 = Seq((2L, "p2", "g1", "*2")).toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    store.writeJob(j1, "job_patient_gene_haplotype", 1L)
    store.writeJob(j2, "job_patient_gene_haplotype", 2L)
    // re-run job 1 with different rows: job 2 must survive
    val j1b = Seq((1L, "p1", "g1", "*9")).toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    store.writeJob(j1b, "job_patient_gene_haplotype", 1L)
    val all = store.read(spark, "job_patient_gene_haplotype")
      .select("job_id", "haplotype_name")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(all == Set((1L, "*9"), (2L, "*2")))
    // job-scoped read prunes to one job
    val one = store.read(spark, "job_patient_gene_haplotype", Some(2L))
      .select("patient_id").collect().map(_.getString(0)).toSet
    assert(one == Set("p2"))
  }

  test("writeJob leaves the session's partition overwrite mode alone") {
    // A fresh session: the other tests' writes must not decide the value.
    val session = spark.newSession()
    import session.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = session.conf.get(key)
    val store = new JobStore(graft.TestScratch.dir("graft-jobstore-mode"))
    store.writeJob(Seq((1L, "p1")).toDF("job_id", "patient_id"), "t", 1L)
    assert(session.conf.get(key) == before)

    // A later static overwrite in the same session replaces the whole
    // index: the 4-cell index's extra cell directories must not survive
    // a re-save with 2 cells.
    val dir = graft.TestScratch.dir("graft-ivf-resave")
    def index(cells: Int, tag: Float) = {
      val assigned = (0 until 8).map(i => (i.toLong, Seq(tag), (i % cells).toLong))
        .toDF("vec_id", "embedding", "centroid_id")
      val centroids = (0 until cells).map(c => (c.toLong, Seq(tag)))
        .toDF("centroid_id", "centroid_vec")
      graft.ops.Similarity.saveIvfIndex(assigned, centroids, dir)
    }
    index(4, 1f)
    index(2, 2f)
    val (assigned, centroids) = graft.ops.Similarity.loadIvfIndex(session, dir)
    val rows = assigned.select("vec_id", "centroid_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2)))
    assert(rows.sortBy(_._1).toSeq == (0 until 8).map(i => (i.toLong, (i % 2).toLong, Seq(2f))))
    assert(centroids.count() == 2)
  }

  test("appendJob adds rows without replacing the job's prior rows (selectAs 'existing')") {
    val root = graft.TestScratch.dir("graft-jobstore-app")
    val store = new JobStore(root)
    val j1 = Seq((1L, "p1", "g1", "*1")).toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    store.writeJob(j1, "job_patient_gene_haplotype", 1L)
    val more = Seq((1L, "p1", "g1", "*2")).toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    store.appendJob(more, "job_patient_gene_haplotype", 1L)
    val got = store.read(spark, "job_patient_gene_haplotype", Some(1L))
      .select("haplotype_name").collect().map(_.getString(0)).toSet
    assert(got == Set("*1", "*2"))
  }

  test("bucketed stage tables: groupBy/join on the bucket column shuffles nothing") {
    val root = graft.TestScratch.dir("graft-jobstore-bkt")
    val store = new JobStore(root)
    val gh = (1 to 100).map(i => (1L, s"p${i % 10}", "g1", s"*${i % 3}"))
      .toDF("job_id", "patient_id", "gene_name", "haplotype_name")
    store.writeJobBucketed(gh, "job_patient_gene_haplotype", 1L, Seq("patient_id"), 4)
    val back = store.readBucketed(spark, "job_patient_gene_haplotype", 1L)
    assert(back.count() == 100)

    // Aggregation on the bucket column: the scan's HashPartitioning
    // satisfies the agg's distribution — no Exchange in the plan.
    val agg = back.groupBy("patient_id").count()
    val aggPlan = agg.queryExecution.executedPlan.toString
    assert(!aggPlan.contains("Exchange"), s"unexpected shuffle in:\n$aggPlan")
    assert(agg.count() == 10)

    // Bucketed-bucketed join on the bucket column: also exchange-free.
    store.writeJobBucketed(
      gh.select("job_id", "patient_id", "gene_name"),
      "job_patient_genotype", 1L, Seq("patient_id"), 4)
    val other = store.readBucketed(spark, "job_patient_genotype", 1L)
      .select("patient_id").distinct()
    val joined = back.join(other, "patient_id")
    assert(joined.count() == 100)

    // Re-running the job overwrites its own bucketed table idempotently.
    store.writeJobBucketed(gh.limit(10), "job_patient_gene_haplotype", 1L,
      Seq("patient_id"), 4)
    assert(store.readBucketed(spark, "job_patient_gene_haplotype", 1L).count() == 10)
  }

  test("direct-input readers: genotype header with duplicate HAPLOTYPE columns") {
    val f = Files.createTempFile("genotype", ".tsv")
    Files.writeString(f,
      "SAMPLE_ID\tGENE\tHAPLOTYPE\tHAPLOTYPE\npatient1\tg1\t*1\t*2\n")
    val df = graft.io.PipelineInputs.read(spark, "genotype", f.toString)
    assert(df.columns.toSeq == Seq("patient_id", "gene_name",
      "haplotype_name1", "haplotype_name2"))
    val row = df.collect().head
    assert(row.getString(0) == "patient1" && row.getString(2) == "*1" &&
      row.getString(3) == "*2")
    // headerless variant of the same data also reads (header optional)
    val f2 = Files.createTempFile("genotype2", ".tsv")
    Files.writeString(f2, "patient2\tg1\t*1\t*1\n")
    val df2 = graft.io.PipelineInputs.read(spark, "genotype", f2.toString)
    assert(df2.collect().head.getString(0) == "patient2")
  }
}
