package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.multimodal.Multimodal
import graft.ops.{Checkpoints, Curation, Dedup, GroupedRowsToColumns, Retrieval, RowOps, SetContainment, Similarity, Skew, Upsert, Web}
import graft.pipeline.{Pipeline, ReferenceTables}
import graft.streaming.EventsStream

/** Driver contract: one `queries` entry per implemented operator (SURVEY §2
  * + the training-data extensions), each with a DuckDB-equivalent oracle in
  * [[SparkEntry.oracleSql]] where the semantics are ANSI-SQL-expressible.
  * Column names and types are aligned pairwise; every query carries a
  * deterministic ORDER BY on both sides.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Session-scoped /tmp scratch dir for the interchange/streaming queries
    * (q81/q82/q88/q89/q92/q97). The returned DataFrame of those queries
    * READS from the dir (roundtrip files, streaming state), so the dir
    * cannot be deleted inside the query function — the caller consumes the
    * plan after we return. Instead every scratch dir is registered with ONE
    * JVM shutdown hook that removes them all, so a full Verify+Bench
    * session leaves /tmp exactly as it found it (the r8 leak: ~150
    * `graft-*` dirs per session — an operational problem on shared
    * cluster-local disks).
    */
  private val scratchDirs =
    java.util.Collections.synchronizedList(new java.util.ArrayList[java.io.File]())
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      scratchDirs.forEach { f =>
        try org.apache.commons.io.FileUtils.deleteDirectory(f)
        catch { case _: Throwable => () }
      }
    }))
  }
  private def scratch(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchDirs.add(p.toFile)
    p.toString
  }

  /** Shared near-dup clusters for the dedup RELEASE pair — q105 (keep-best
    * survivors) and q113 (audit card) are two artifacts of ONE pipeline run
    * (pairs → closure), so the cluster table is computed once per corpus
    * dir and memoized driver-locally: ids only, size-gated, deterministic
    * (the banding/verification/closure chain is md5-based). This is the
    * explicit shared-persist scope the operator API supports (both
    * `keepListBy` and `auditCard` take a precomputed `clusters`): the
    * audit card prices as a derivation of the SAME pairs frame the
    * keep-list consumed, not as a second full banding run. Plain JVM
    * state, so it deliberately survives the bench's between-query storage
    * sweep — the coupling is the point and is documented in PLANS.md.
    */
  private val dupClustersMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Long, Long)]]()
  private def nearDupReleaseClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val arr = dupClustersMemo.computeIfAbsent(dir, _ => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      val cl = Dedup.duplicateClusters(pairs)
        .select(col("id").cast("long").as("id"),
          col("cluster_id").cast("long").as("cluster_id"))
      // Clustered docs are a small fraction of any corpus by construction;
      // the gate keeps the memo from ever materializing a pathological
      // cluster table on the driver (falls back would be pointless — at
      // that size the whole pair design is wrong, so fail loudly).
      val rows = cl.as[(Long, Long)].take(2000001)
      require(rows.length <= 2000000, "cluster table exceeds 2M-row memo gate")
      rows
    })
    arr.toSeq.toDF("id", "cluster_id")
  }

  // ---- shared inline genomics fixture (hom-calling oracle, q08/q09) ----

  private def fixtureRefs(spark: SparkSession): ReferenceTables = {
    import spark.implicits._
    ReferenceTables(
      drugRecommendation =
        Seq((1L, "drugA", "drug"), (2L, "drugB", "some drug"),
          (3L, "drugC", "drug3"), (4L, "drugD", "drug4"),
          (5L, "drugE", "drug5")).toDF("id", "drug_name", "recommendation"),
      genePhenotypeDrugRecommendation = Seq(
        ("g1", "homozygote normal", 1L),
        ("g1", "nonfunctional", 2L),
        ("g1", "mixed function", 3L),
        ("g1", "poor combo", 4L),
        ("g1", "rapid combo", 5L))
        .toDF("gene_name", "phenotype_name", "drug_recommendation_id"),
      geneHaplotypeVariant = fixtureGhv.map(r => (r._1, r._2, r._3, r._4))
        .toDF("gene_name", "haplotype_name", "snp_id", "allele"),
      // The het-path rules ((*1,*3)/(*3,*5)/(*1,*4)) only match genotypes the
      // HET fixture produces — hom-fixture queries (q26-q28) are unaffected.
      genotypePhenotype = Seq(
        ("g1", "*1", "*1", "homozygote normal"),
        ("g1", "*2", "*2", "nonfunctional"),
        ("g1", "*1", "*3", "mixed function"),
        ("g1", "*3", "*5", "poor combo"),
        ("g1", "*1", "*4", "rapid combo"))
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "phenotype_name"),
      // Genotype-path rules match only the hom fixture genotypes ((*1,*1)
      // and (*2,*2)) — the het genotypes pair different haplotypes, so
      // het-fixture queries are unaffected.
      genotypeDrugRecommendation = Seq(
        ("g1", "*1", "*1", 1L), ("g1", "*2", "*2", 2L))
        .toDF("gene_name", "haplotype_name1", "haplotype_name2", "drug_recommendation_id"))
  }

  private val fixtureGhv = Seq(
    ("g1", "*1", "rs1", "A"), ("g1", "*1", "rs2", "G"),
    ("g1", "*2", "rs1", "C"), ("g1", "*2", "rs2", "T"),
    ("g1", "*3", "rs1", "G"), ("g1", "*3", "rs2", "G"),
    ("g1", "*4", "rs1", "G"), ("g1", "*4", "rs2", "A"),
    ("g1", "*5", "rs1", "A"), ("g1", "*5", "rs2", "A"))

  /** Hom-only patients covering: known call, single-variant known call,
    * ambiguous (no call), novel-by-unseen-combination, novel-by-unseen-allele.
    */
  private val fixtureVariants: Seq[(String, String, String, String, String)] =
    for {
      (p, calls) <- Seq(
        "p1" -> Seq("rs1" -> "A", "rs2" -> "G"), // *1
        "p2" -> Seq("rs1" -> "C"), // *2 (unambiguous single variant)
        "p3" -> Seq("rs1" -> "A"), // ambiguous {*1,*5}
        "p4" -> Seq("rs1" -> "C", "rs2" -> "G"), // novel: unseen combination
        "p5" -> Seq("rs1" -> "X")) // novel: unseen allele
      chrom <- Seq("A", "B")
      (snp, allele) <- calls
    } yield (p, chrom, snp, allele, "hom")

  private def fixtureVariantDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fixtureVariants.toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
  }

  /** ONE fixture pipeline run feeds all ten hom+het fixture queries
    * (q08/q09/q26-q29/q35-q37): the hom and het patients share the reference
    * tables, so they run as one job and each query filters to its patients.
    * The map memoizes the LAZY stage frames (runJob's per-stage pins), not
    * eagerly collected local relations: [[invalidateTransientState]] clears
    * this memo between timed queries (VERDICT r16 #2), so eager collection
    * would make every fixture query pay ALL nine stages; lazily, a query
    * executes only its own stage's lineage.
    */
  private val fixtureCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, Map[String, DataFrame]]()

  private def allFixtureStages(s: SparkSession): Map[String, DataFrame] =
    fixtureCache.computeIfAbsent(s, { s =>
      import s.implicits._
      val variants = fixtureVariantDf(s).unionByName(
        hetFixtureVariants
          .toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity"))
      Pipeline.runJob(s, fixtureRefs(s), 1L, variants = Some(variants))
    })

  /** Drop every JVM-resident memo ([[dupClustersMemo]], [[fixtureCache]])
    * so the next query computes from its inputs. Bench.isolate() calls
    * this between timed queries (VERDICT r16 #2): the memos are a
    * legitimate shared-pipeline scope for a long-lived session (q105/q113
    * are two artifacts of ONE release run; the ten fixture queries are ten
    * views of ONE fixture job), but a benchmark median/minimum must price
    * the computation, not a memo hit.
    */
  def invalidateTransientState(): Unit = {
    dupClustersMemo.clear()
    fixtureCache.clear()
  }

  private def fixtureStages(s: SparkSession): Map[String, DataFrame] = {
    val hom = fixtureVariants.map(_._1).distinct
    allFixtureStages(s).map { case (n, df) =>
      n -> df.filter(col("patient_id").isin(hom: _*))
    }
  }

  private val fixtureGhvValues = fixtureGhv
    .map(r => s"('${r._1}','${r._2}','${r._3}','${r._4}')").mkString(", ")
  private val fixtureVariantValues = fixtureVariants
    .map(r => s"('${r._1}','${r._2}','${r._3}','${r._4}')").mkString(", ")

  /** Het-path fixture (U2 semantics; oracles are hand-derived VALUES goldens
    * from `Algorithm.groovy:139-253` + `Pipeline.groovy:196-316` against the
    * fixture matrix, cross-checked by the ported reference golden tests in
    * `PipelineSpec`):
    *  - h1: one het SNP — splits arbitrarily, A side ambiguous ({*1,*5}) so
    *    only chromosome B calls (*2) and the genotype has a null second slot;
    *  - h2: two het SNPs — two phasing combos, (*3,*5) then (*1,*4);
    *  - x1: het rs1 + hom rs2 — hom calls constrain both strands: (*1,*3).
    */
  private val hetFixtureVariants = Seq(
    ("h1", null, "rs1", "A", "het"), ("h1", null, "rs1", "C", "het"),
    ("h2", null, "rs1", "A", "het"), ("h2", null, "rs1", "G", "het"),
    ("h2", null, "rs2", "G", "het"), ("h2", null, "rs2", "A", "het"),
    ("x1", null, "rs1", "A", "het"), ("x1", null, "rs1", "G", "het"),
    ("x1", "A", "rs2", "G", "hom"), ("x1", "B", "rs2", "G", "hom"))

  /** Het-patient slice of the single combined fixture run (q29/q35-q37).
    * The pipeline is per-patient independent, so filtering the combined
    * job's stages to the het patients is exactly the het-only run — without
    * a second `Pipeline.runJob`.
    */
  private def hetFixtureStages(s: SparkSession): Map[String, DataFrame] = {
    val het = hetFixtureVariants.map(_._1).distinct
    allFixtureStages(s).map { case (n, df) =>
      n -> df.filter(col("patient_id").isin(het: _*))
    }
  }

  // ---- flagship ----

  /** Flagship: the full haplorec pipeline (variant explode → haplotype call
    * → genotype pivot → phenotype join → set-containment recommendation) on
    * the inline fixture; driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val refs = fixtureRefs(spark)
    val stages = Pipeline.runJob(spark, refs, 1L,
      variants = Some(fixtureVariantDf(spark)))
    stages("phenotypeDrugRecommendation")
  }

  // ---- query inventory ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1/A2: hash aggregation with exact decimal money math
    "q01_agg_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // J3/J4: set-containment join (relational division), subset direction
    "q02_containment_subset" -> ((s, dir) => {
      val a = t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_nationkey"))
      val b = t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey").as("n_nationkey"))
        .distinct()
      SetContainment.selectWhereSubsetOf(a, b, Seq("n_nationkey"),
          Seq("r_name"), Seq("c_mktsegment"))
        .orderBy("r_name", "c_mktsegment")
    }),

    // J5: either-direction containment
    "q03_containment_either" -> ((s, dir) => {
      val a = t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_nationkey"))
      val b = t(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_mktsegment"), col("c_nationkey").as("n_nationkey"))
        .distinct()
      SetContainment.selectWhereEitherSubsetOf(a, b, Seq("n_nationkey"),
          Seq("r_name"), Seq("c_mktsegment"))
        .orderBy("r_name", "c_mktsegment")
    }),

    // R1/R2: grouped rows → columns pivot with bad-group routing
    "q04_pivot_pairs" -> ((s, dir) => {
      import GroupedRowsToColumns._
      val (good, _) = GroupedRowsToColumns(
        t(s, dir, "lineitem"),
        groupBy = Seq("l_orderkey"),
        columnMap = Seq(
          Passthrough("l_orderkey", "l_orderkey"),
          Spread("l_partkey", Seq("part1", "part2"))),
        orderRowsBy = Seq("l_linenumber", "l_partkey"))
      good.orderBy("l_orderkey")
    }),

    // S9: upsert, discard mode
    "q05_upsert_discard" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val existing = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), upper(col("c_name")).as("c_name"), col("c_acctbal"))
      Upsert.discard(existing, incoming, Seq("c_custkey")).orderBy("c_custkey")
    }),

    // O6: window-based duplicate-group blanking (report semantics)
    "q06_nodup_blank" -> ((s, dir) => {
      RowOps.noDuplicates(
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        Seq(
          RowOps.DupGroup("g1", Seq("o_custkey"), Seq("o_custkey", "o_orderstatus")),
          RowOps.DupGroup("g2", Seq("o_orderstatus"), Seq("o_orderstatus", "o_orderpriority"))),
        ordering = Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // S2: variant-file allele explode (codegen Generator path)
    "q07_variant_explode" -> ((s, dir) => {
      val raw = t(s, dir, "part").select(
        concat(lit("snp"), col("p_partkey")).as("ASSAY_ID"),
        substring(col("p_name"), 1, 9999).substr(lit(1), col("p_partkey") % 4).as("GENOTYPE_ID"),
        concat(lit("p"), col("p_partkey") % 10).as("SAMPLE_ID"))
      graft.io.VariantReader.explodeVariants(raw)
        .orderBy("patient_id", "snp_id", "physical_chromosome", "allele")
    }),

    // U1: haplotype calling (hom path — SQL-expressible slice of the matrix probe)
    "q08_hom_gene_haplotype" -> ((s, dir) => {
      fixtureStages(s)("geneHaplotype")
        .select("patient_id", "physical_chromosome", "gene_name", "haplotype_name")
        .orderBy("patient_id", "physical_chromosome")
    }),

    // U1: novel-haplotype taxonomy (unseen allele / unseen combination)
    "q09_hom_novel_haplotype" -> ((s, dir) => {
      fixtureStages(s)("novelHaplotype")
        .select("patient_id", "physical_chromosome", "gene_name")
        .orderBy("patient_id", "physical_chromosome")
    }),

    // R1/J2: genotype pairing on the hom fixture (pivot of haplotype calls)
    "q26_hom_genotype" -> ((s, dir) => {
      fixtureStages(s)("genotype")
        .select("patient_id", "gene_name", "haplotype_name1", "haplotype_name2")
        .orderBy("patient_id")
    }),

    // J2: genotype → phenotype equi join on the sorted haplotype pair
    "q27_hom_gene_phenotype" -> ((s, dir) => {
      fixtureStages(s)("genePhenotype")
        .select("patient_id", "gene_name", "phenotype_name")
        .orderBy("patient_id")
    }),

    // J4: phenotype-rule set-containment on the hom fixture
    "q28_hom_phenotype_recommendation" -> ((s, dir) => {
      fixtureStages(s)("phenotypeDrugRecommendation")
        .select("patient_id", "drug_recommendation_id")
        .orderBy("patient_id")
    }),

    // U2: het disambiguation phasings (hand-derived VALUES golden).
    "q29_het_variants" -> ((s, dir) => {
      hetFixtureStages(s)("hetVariant")
        .select("patient_id", "physical_chromosome", "het_combo", "het_combos",
          "snp_id", "allele")
        .orderBy("patient_id", "het_combo", "snp_id", "physical_chromosome")
    }),

    // U2→U1→R2: genotype pairing downstream of het phasing — covers the
    // ambiguous-A-side null slot (h1), multi-combo pairing (h2), and
    // het+hom strand merging (x1).
    "q35_het_genotype" -> ((s, dir) => {
      hetFixtureStages(s)("genotype")
        .select("patient_id", "gene_name", "het_combo", "het_combos",
          "haplotype_name1", "haplotype_name2")
        .orderBy("patient_id", "het_combo")
    }),

    // J2 on het output: genotype → phenotype equi join per combo.
    "q36_het_gene_phenotype" -> ((s, dir) => {
      hetFixtureStages(s)("genePhenotype")
        .select("patient_id", "gene_name", "het_combo", "het_combos",
          "phenotype_name")
        .orderBy("patient_id", "het_combo")
    }),

    // J4 on het output: set-containment recommendation per (patient, combo).
    "q37_het_recommendation" -> ((s, dir) => {
      hetFixtureStages(s)("phenotypeDrugRecommendation")
        .select("patient_id", "het_combo", "het_combos", "drug_recommendation_id")
        .orderBy("patient_id", "het_combo")
    }),

    // F: token counting (whitespace + BPE-ish estimate)
    "q10_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.bpeTokenCountEstimate(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // F: quality scoring (length/punct/stopword heuristics)
    "q11_quality" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        round(TextFunctions.stopwordRatio(col("text")), 6).as("stopword_ratio"),
        round(TextFunctions.punctRatio(col("text")), 6).as("punct_ratio"),
        TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")
    }),

    // F: language identification (marker-stopword heuristic)
    "q12_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // F: document fingerprinting
    "q13_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextFunctions.contentFingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // Dedup: exact (hash-groupBy on 128-bit content hash)
    "q14_exact_dedup" -> ((s, dir) => {
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // Dedup: MinHash signatures (md5-min family, engine-portable)
    "q15_minhash_sig" -> ((s, dir) => {
      Dedup.minHashSignatures(t(s, dir, "documents"), "doc_id", "text",
          numHashes = 8, shingleLen = 3)
        .select(col("doc_id"), concat_ws("|", col("sig")).as("sig"))
        .orderBy("doc_id")
    }),

    // Dedup: MinHash + LSH banding + Jaccard verification
    "q16_minhash_pairs" -> ((s, dir) => {
      Dedup.minHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
        .orderBy("id_a", "id_b")
    }),

    // Dedup: n-gram Jaccard via inverted shingle index with df-pruning
    "q17_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 8, threshold = 0.6, maxDocFreq = 100)
        .orderBy("id_a", "id_b")
    }),

    // Dedup: 64-bit SimHash near-dups (md5-derived bits, engine-portable)
    "q18_simhash_pairs" -> ((s, dir) => {
      Dedup.simHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
          maxHamming = 6, chunks = 4)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
        .orderBy("id_a", "id_b")
    }),

    // Similarity: exact cosine top-k for one query vector
    "q19_topk_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0)
      Similarity.topKForQuery(emb, "vec_id", "embedding", q, 10)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
    }),

    // Similarity: IVF approximate top-k. Centroids are a deterministic md5
    // hash-sample of ~nlist=32 vectors — the threshold is integer-derived
    // from the exact corpus count on both sides, so the DuckDB oracle
    // reproduces the full index build + probe exactly at any scale factor,
    // and the centroid broadcast stays bounded by nlist (not the corpus).
    "q20_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0)
      // Pinned: the assignment feeds the probe (IVF index build is a
      // one-time cost amortized over queries).
      val assigned = Checkpoints.pin(
        Similarity.ivfAssign(emb, "vec_id", "embedding", nlist = 32))
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.ivfTopKForQuery(assigned, centroids, "vec_id", "embedding",
          q, 10, nprobe = 4)
        .select(col("vec_id"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy(col("cosine_sim").desc, col("vec_id"))
    }),

    // Similarity: LSH-bucketed embedding near-dup pairs. The hyperplane
    // count grows with the corpus (expected bucket population ≤ 32, an
    // integer-exact formula the oracle mirrors), so in-bucket verify cost
    // stays linear in the corpus instead of O(n²/2^bits) at fixed bits.
    "q21_lsh_embedding_pairs" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val bits = Similarity.lshBitsFor(emb.count(), targetBucketSize = 32)
      Similarity.lshNearNeighbors(emb, "vec_id", "embedding",
          dim = 64, threshold = 0.3, bits = bits)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    }),

    // Data mixing: per-stratum deterministic down-sampling (md5 predicate —
    // no RNG state, no count; the oracle reproduces the exact row set).
    "q50_stratified_sample" -> ((s, dir) => {
      graft.ops.Sampling.stratifiedHashSample(t(s, dir, "documents"),
          "doc_id", "lang", Seq("en" -> 0.5, "de" -> 0.25))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Cluster-level dedup: connected components over the q16 verified
    // near-dup pairs — transitive duplicates collapse to one survivor
    // (cluster_id = component minimum).
    "q51_dup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minHashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      Dedup.duplicateClusters(pairs).orderBy("id")
    }),

    // Data mixing: integer up-weighting (repeat high-priority strata N×
    // with a copy index) — codegen'd explode in the scan stage.
    "q52_weighted_repeat" -> ((s, dir) => {
      graft.ops.Sampling.weightedRepeat(
          t(s, dir, "documents").select("doc_id", "lang"), "lang",
          Seq("de" -> 3, "fr" -> 2))
        .withColumn("copy", col("copy").cast("long"))
        .orderBy("doc_id", "copy")
    }),

    // Batch k-NN join (retrieval eval / hard-negative mining): exact top-5
    // corpus neighbours for each of 5 query vectors — one corpus scan,
    // two-phase partial top-k (shuffle carries k×partitions rows per query).
    "q53_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.topKJoin(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF-probed k-NN join: the scale path for query sets too big to
    // broadcast — only the nlist-bounded centroid set broadcasts (query
    // routing), and the routed queries join the assignment on centroid_id
    // (never a BroadcastNestedLoopJoin of the corpus side). Same
    // deterministic index build as q20, so the oracle reproduces
    // routing + probe + dedupe + ranking exactly.
    "q72_ivf_knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val assigned = Checkpoints.pin(
        Similarity.ivfAssign(emb, "vec_id", "embedding", nlist = 32))
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      Similarity.topKJoinIvf(assigned, centroids, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nprobe = 4)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // Semantic (embedding-cosine) dedup end-to-end: IVF-celled cosine
    // pairs (q47) → connected components (q51's operator) → kept vector
    // list. The SemDeDup shape: candidate generation is cell-bounded
    // (never all-pairs), clustering is edge-sized, and the deliverable is
    // the surviving corpus — all three stages one composed plan.
    "q73_semantic_dedup_keep" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pairs = Similarity.ivfCellNearNeighbors(emb, "vec_id", "embedding",
        nlist = 32, threshold = 0.3)
      Dedup.keepList(emb.select("vec_id"), "vec_id",
          Dedup.duplicateClusters(pairs))
        .orderBy("vec_id")
    }),

    // Gopher-style rule-based quality gate: row-local signals + repetition
    // signals -> keep verdict + first-failed-rule reason. The oracle
    // re-derives every signal AND the when-chain audit order.
    "q74_quality_filter" -> ((s, dir) => {
      Curation.qualityFilter(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_word_len"), col("punct_ratio"), col("stopword_ratio"),
          col("dup_segment_frac"), col("top_bigram_frac"),
          col("reason"), col("keep"))
        .orderBy("doc_id")
    }),

    // Token-budget mixture sampling: per-source keep fractions derived from
    // the corpus's own token totals (8k-char budget at 40/30/20/10% across
    // src0-3; src4 over-weighted to exercise the keep-whole branch; other
    // sources dropped), then the md5-cut per-row selection.
    "q75_token_budget_mix" -> ((s, dir) => {
      graft.ops.Sampling.sampleToTokenBudget(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", budget = 8000L,
          weights = Seq("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2,
            "src3" -> 0.1, "src4" -> 5.0))
        .orderBy("doc_id")
    }),

    // Deterministic global shuffle into training shards: md5-bucket shard +
    // within-shard rank. The window partitions by shard (bounded state),
    // never a global sort.
    "q76_shuffled_shards" -> ((s, dir) => {
      graft.ops.Sampling.shuffledShards(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", numShards = 8, seed = 7L)
        .orderBy("shard", "shard_pos")
    }),

    // Composed training-mix assembly: quality gate -> token-budget mixture
    // over the KEPT docs (fractions derive from the kept totals, not the
    // raw corpus) -> fixed-length sequence packing, as ONE plan. The
    // stopword rule is disabled (multilingual mix; the en stop list would
    // drop every non-English doc) and the dup-segment threshold relaxed to
    // 0.95 (separator " " makes segments = words, where ordinary prose
    // repeats) so the budget cut actually engages. The oracle re-derives
    // the whole chain.
    "q77_training_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // Spread an under-split corpus BEFORE the signal projection and pin
      // the SIGNAL frame. A bare spread fails here: predicate pushdown
      // substitutes the `keep` alias and drags the heavy
      // TextStats/RepetitionStats expressions through the inserted
      // exchange back onto the single map task. A pinned frame's build
      // plan ENDS at the projection — nothing can push through it — so the
      // signals evaluate on the exchange's reduce side across the
      // session's cores.
      val sigs = Checkpoints.pin(Curation.qualityFilter(
          Skew.spreadIfUnderSplit(docs, col("doc_id")), "doc_id", "text",
          minStopwordRatio = 0.0, maxDupSegmentFrac = 0.95, separator = " ")
        .select("doc_id", "n_tokens", "keep"))
      // Stage barrier (the q63 pattern): sampleToTokenBudget references
      // its input twice (stratum totals + selection join), so without
      // this pin the kept-join re-executes per reference. The pinned
      // projection is ids+counts — three narrow columns, cheap at any
      // corpus scale.
      val kept = Checkpoints.pin(sigs
        .filter(col("keep"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "n_tokens"))
      val mixed = graft.ops.Sampling.sampleToTokenBudget(kept, "doc_id",
        "source", "n_tokens", budget = 800L,
        weights = Seq("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.25,
          "src3" -> 0.25))
      Curation.packSequences(mixed, "doc_id", col("n_tokens"), "source",
          seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    }),

    // Per-source best-k selection: quality-ranked top 3 docs per source via
    // the bounded CollectTopK aggregate (O(k) state at every aggregation
    // level — no per-group full sort). Rank ties break by ascending doc_id
    // on the 6-dp-rounded score, so the selection is engine-portable.
    "q79_top_per_group" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("source"),
        round(TextFunctions.qualityScore(col("text")), 6).as("quality"))
      graft.ops.Sampling.topPerGroup(scored, "doc_id", "source", "quality", k = 3)
        .orderBy("source", "rank")
    }),

    // Eval-hygiene audit: verified near-dup pairs straddling the q68
    // splits — the leakage exact fingerprints miss (edited eval copies in
    // train). Composes the q16 pair machinery with the q68 assignment.
    "q87_split_leakage" -> ((s, dir) => {
      graft.ops.Sampling.nearDupSplitLeakage(t(s, dir, "documents"), "doc_id",
          "text", Seq("test" -> 0.1, "validation" -> 0.1), threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // Streaming twin of q85 through the MERGE-mode keyed sink: per batch,
    // new events sorted-merge into each user's stored element list and
    // only touched hash buckets rewrite. Oracle = q85's batch SQL.
    "q88_streaming_assembly" -> ((s, dir) => {
      val base = scratch("graft-q88")
      // nBuckets sized to the smoke's key volume (1.5k users → 8 buckets),
      // the same rule a deployment applies upward (one bucket ≪ executor
      // memory); 64 tiny bucket files cost ~0.5 s of pure file churn here
      // (PLANS.md, round-9 q140/q88 adjudication) with zero data-side
      // difference.
      Curation.streamingAssembleSequences(
          EventsStream.readEventsStream(s, dir, "events.parquet"),
          "user_id", "ts", "event_id", "event_type", sep = ">",
          sinkDir = s"$base/sink", checkpointDir = s"$base/ckpt",
          nBuckets = 8,
          statePartitions = graft.ops.KeyedState.smokeStatePartitions)
        .orderBy("user_id")
    }),

    // LM-filter proxy: per-doc unigram surprisal against the corpus's own
    // token distribution, folded over the token-sorted list (q84's
    // engine-portable float discipline).
    "q86_unigram_surprisal" -> ((s, dir) => {
      Curation.unigramBitsPerToken(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Behavioral-history assembly: each user's time-ordered event-type
    // sequence as one training example (ties by event_id — deterministic
    // under any partitioning).
    "q85_assemble_sequences" -> ((s, dir) => {
      Curation.assembleSequences(
          EventsStream.readEvents(s, s"$dir/events.parquet"), "user_id", "ts",
          "event_id", "event_type", sep = ">")
        .orderBy("user_id")
    }),

    // Corpus character profile: in-word adjacent char-pair counts, top 50
    // (approximates — deliberately not equals — the BPE trainer's first
    // merge table, which also counts end-of-word sentinel pairs).
    "q83_bpe_pair_counts" -> ((s, dir) => {
      Curation.bpePairCounts(t(s, dir, "documents"), "text", k = 50)
        .orderBy(col("n").desc, col("pair"))
    }),

    // Information-theoretic repetitiveness: per-doc char-bigram entropy,
    // folded over the gram-sorted count list so the float sum is
    // engine-portable term-for-term.
    "q84_char_entropy" -> ((s, dir) => {
      Curation.charEntropyReport(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Streaming IVF ingest: vectors stream into the persisted index's cell
    // partitions against PINNED centroids (q20's deterministic hash-sample).
    // The accumulated assignment must equal the batch build — the oracle is
    // the shared ivfAssign reproduction.
    "q82_streaming_ivf_ingest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid_vec"))
      val base = scratch("graft-q82")
      Similarity.streamingIvfIngest(s, dir, "embeddings.parquet",
          "vec_id", "embedding", centroids,
          indexDir = s"$base/index", checkpointDir = s"$base/ckpt",
          statePartitions = graft.ops.KeyedState.smokeStatePartitions)
        .select("vec_id", "centroid_id")
        .orderBy("vec_id")
    }),

    // Streaming incremental near-dedup: the q16 pair set discovered through
    // micro-batches — per batch, only the new docs shingle/sign/band; the
    // accumulated band index serves cross-batch candidates. The oracle is
    // q16's batch SQL: pair discovery is batch-split-invariant.
    "q81_streaming_minhash" -> ((s, dir) => {
      val base = scratch("graft-q81")
      // nStateBuckets sized to the smoke's key volume (5k docs → 8
      // buckets), the same rule q88's merge sink documents (one bucket
      // ≪ executor memory; a deployment sizes upward by keys ÷ target
      // keys-per-bucket). At the default 32, each of the three per-batch
      // index appends paid 32 near-empty bucket writes + their staged-
      // swap renames (two ~0.4–0.5 s 32-task write jobs per batch at
      // sf0.1) with zero data-side difference — bucket count is storage
      // layout, not semantics (stream_base/stream_p32 sweeps prove the
      // pair set invariant).
      Dedup.streamingMinHashNearDuplicates(s, dir, "documents.parquet",
          "doc_id", "text", stateDir = s"$base/state",
          checkpointDir = s"$base/ckpt", threshold = 0.5,
          nStateBuckets = 8,
          statePartitions = graft.ops.KeyedState.smokeStatePartitions)
        .orderBy("id_a", "id_b")
    }),

    // Distribution-shift audit: per-source robust z-scores (median/MAD) of
    // document length. Integer-valued signal -> exact-half medians ->
    // engine-portable flags; the corpus never shuffles (two broadcast-back
    // aggregates).
    // robust_z is excluded from the gated projection: its 6-dp rounding
    // lands on exact .5 ties (half-exact med/mad make them common) where
    // Spark and DuckDB round apart; the flag itself is integer-exact.
    "q80_outlier_report" -> ((s, dir) => {
      Curation.outlierReport(t(s, dir, "documents"), "doc_id", "source",
          length(col("text")), valueName = "n_chars")
        .select("doc_id", "source", "n_chars", "med", "mad", "is_outlier")
        .orderBy("doc_id")
    }),

    // Cross-corpus near-dedup: the "new crawl" (odd doc_ids) LSH-banded
    // against the "existing corpus" (even doc_ids) — candidates only from
    // shared (band, band_sig) buckets, never crawl × corpus, verified by
    // true shingle Jaccard.
    "q78_cross_corpus_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.crossCorpusNearDuplicates(
          docs.filter(col("doc_id") % 2 === 1), "doc_id",
          docs.filter(col("doc_id") % 2 === 0), "doc_id",
          "text", threshold = 0.5)
        .orderBy("corpus_id", "ref_id")
    }),

    // End-to-end dedup deliverable: the kept corpus after dropping every
    // non-minimum member of each near-dup cluster (q16 pairs → q51
    // components → anti join).
    "q54_dedup_keep" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      Dedup.keepList(docs.select("doc_id", "lang"), "doc_id",
          Dedup.duplicateClusters(pairs))
        .orderBy("doc_id")
    }),

    // Stream-static enrichment join (batch form; EventsStreamSpec proves
    // batch ≡ stream): dimension attributes onto the event stream with NO
    // streaming state — the static side re-plans per micro-batch.
    "q55_stream_static_enrich" -> ((s, dir) => {
      EventsStream.enrichWithDim(
          EventsStream.readEvents(s, s"$dir/events.parquet"),
          t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment")),
          "user_id", "c_custkey")
        .select(col("event_id"), col("user_id"), col("event_type"), col("c_mktsegment"))
        .orderBy("event_id")
    }),

    // Benchmark decontamination: word-6-gram overlap of the corpus
    // (doc_id >= 25) against an eval benchmark (doc_id < 25) — the
    // pre-training n-gram contamination check. Benchmark gram
    // fingerprints ship inside the GramMatchStats codegen expression:
    // the corpus side is a zero-shuffle projection.
    "q56_decontamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.contaminationReport(
          docs.filter(col("doc_id") >= 25), "doc_id", "text",
          docs.filter(col("doc_id") < 25), "text", n = 6)
        .select(col("doc_id"), col("n_grams"), col("matched_grams"),
          col("contaminated").cast("long").as("contaminated"))
        .orderBy("doc_id")
    }),

    // Cross-document boilerplate removal: segments repeating in >= 80% of
    // distinct docs (headers/footers at corpus scale; with the synthetic
    // space-separated corpus, segment = word) are dropped everywhere,
    // preserving within-document order. The threshold derives from the
    // corpus count on both sides (integer floor), so the semantics hold at
    // every scale factor. Boilerplate list broadcast back as an anti-join.
    "q57_strip_boilerplate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.stripBoilerplate(docs, "doc_id", "text",
          separator = " ", minDocs = docs.count() * 8 / 10)
        .orderBy("doc_id")
    }),

    // Concat-and-chunk sequence packing: per-shard (source) prefix sums cut
    // into 64-token training sequences; one row per document × overlapped
    // sequence. The window is per shard — no global sort.
    "q58_pack_sequences" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.packSequences(docs, "doc_id",
          TextFunctions.tokenCount(col("text")), "source", seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    }),

    // Streaming contamination blocklist: q56's gram-collision count with
    // the corpus arriving through readStream — the bench fp array rides
    // the plan into a stateless row-local pass per micro-batch (append
    // mode, zero joins/shuffles/state). Oracle is the batch formulation.
    "q61_streaming_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.streamingContaminationBlocklist(s, dir, "documents.parquet",
          "doc_id", "text", docs.filter(col("doc_id") < 25), "text",
          n = 6, streamFilter = col("doc_id") >= 25)
        .orderBy("doc_id")
    }),

    // Data-mixture card: per-(source, lang) doc/token counts with corpus
    // fractions — one hash aggregate + a broadcast of the stratum totals.
    "q71_mixture_report" -> ((s, dir) => {
      Curation.mixtureReport(t(s, dir, "documents"), "text", Seq("source", "lang"))
        .orderBy("source", "lang")
    }),

    // TF-IDF keyword extraction: top-3 characteristic terms per document;
    // two shuffles (term frequency, document frequency) + a per-doc
    // ranking window.
    "q70_tfidf_terms" -> ((s, dir) => {
      Curation.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),

    // Overlapping token-window chunking (retrieval-corpus shape): 32-token
    // chunks at stride 24 — a generator inside the scan stage, no shuffle.
    "q69_chunk_documents" -> ((s, dir) => {
      Curation.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
          chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_id")
    }),

    // Deterministic exact-size sample: the 50 smallest md5(doc_id) rows —
    // TakeOrderedAndProject, no global sort shuffle.
    "q67_exact_sample" -> ((s, dir) => {
      graft.ops.Sampling.hashSampleExact(t(s, dir, "documents"), "doc_id", 50)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    }),

    // Deterministic train/validation/test assignment from md5(doc_id)
    // range cuts — a pure per-row expression the oracle reproduces.
    "q68_split_assign" -> ((s, dir) => {
      graft.ops.Sampling.assignSplit(t(s, dir, "documents"), "doc_id",
          Seq("test" -> 0.1, "validation" -> 0.1))
        .select("doc_id", "split")
        .orderBy("doc_id")
    }),

    // One-row corpus card: doc/token/unique-content counts in a single
    // map-side-combined aggregate pass.
    "q66_corpus_stats" -> ((s, dir) => {
      Curation.corpusStats(t(s, dir, "documents"), "text")
    }),

    // Within-document segment dedup: repeated segments keep first
    // occurrence only — a pure per-row rewrite inside the scan stage.
    "q65_dedupe_segments" -> ((s, dir) => {
      Curation.dedupeSegments(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .orderBy("doc_id")
    }),

    // Near-containment pairs: overlap coefficient |∩|/min(|A|,|B|) over
    // the same pruned n-gram inverted index as q17 — catches embedded/
    // quoted documents whose size asymmetry dilutes Jaccard.
    "q64_ngram_containment" -> ((s, dir) => {
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 8, threshold = 0.8, maxDocFreq = 100)
        .orderBy("id_a", "id_b")
    }),

    // Corpus vocabulary: top-100 tokens by frequency (tie-broken by token)
    // — one hash aggregate + TakeOrderedAndProject, no global sort.
    "q62_vocabulary" -> ((s, dir) => {
      Curation.vocabulary(t(s, dir, "documents"), "text", k = 100)
    }),

    // Capstone curation-pipeline composition, oracle-gated END TO END:
    // boilerplate strip -> exact dedup on the cleaned text -> benchmark
    // decontamination -> per-shard sequence packing. Each operator is
    // individually gated (q57/q14/q56/q58); this gates their COMPOSITION.
    "q63_curation_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // Fractional threshold derives from an in-plan count (the oracle's
      // scalar subquery), not an eager docs.count() at plan-build time —
      // at 100 TB that eager action was an extra full-scan job per build.
      val cleaned = Curation.stripBoilerplate(docs, "doc_id", "text",
        separator = " ", minDocs = Right(0.8))
      // NO stage barrier (round-14 re-adjudication): the round-13
      // decontaminate rewrite made it a row-local filter, so this chain
      // is now LINEAR — every stage has exactly one consumer and nothing
      // recomputes. The old persist (justified when decontaminate
      // branched its input into a gram index + anti-join: 16.8 s vs
      // 33.8 s at 400k docs) became pure cache-encode overhead with zero
      // reuse: ComposedChainScaleProbe alternating-arm pairs on the
      // current operators measure no-barrier 28.8 s vs barrier 38.7 s at
      // 4M docs, and 41.3 vs 39.7 s (parity, within host noise) at 8M.
      val deduped = Dedup.exactDedup(cleaned, "doc_id", "text_clean")
      val decon = Curation.decontaminate(
        deduped.filter(col("doc_id") >= 25), "doc_id", "text_clean",
        docs.filter(col("doc_id") < 25), "text", n = 6)
      Curation.packSequences(
          decon.join(docs.select("doc_id", "source"), "doc_id"),
          "doc_id", TextFunctions.tokenCount(col("text_clean")),
          "source", seqLen = 64)
        .orderBy("source", "doc_id", "seq_id")
    }),

    // Gopher-style repetition signals: duplicate-segment fraction and
    // most-common-word-bigram fraction, via explode + per-(doc, gram)
    // aggregation (linear in corpus tokens; no per-row quadratic lambda).
    "q59_repetition_signals" -> ((s, dir) => {
      Curation.repetitionReport(t(s, dir, "documents"), "doc_id", "text",
          separator = " ")
        .orderBy("doc_id")
    }),

    // PII redaction: email/IPv4/phone scrub as a codegen'd regexp_replace
    // chain (patterns in the Java∩RE2 regex subset so the oracle applies
    // the identical rewrite). Deterministic synthetic PII is appended per
    // row so the rewrite is actually exercised on this corpus.
    "q60_pii_redaction" -> ((s, dir) => {
      val withPii = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.0."), (col("doc_id") % 256).cast("string"),
          lit(".7 tel +1 (555) 010-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("text"))
      withPii
        .select(col("doc_id"), Curation.redactPii(col("text")).as("text_redacted"))
        .orderBy("doc_id")
    }),

    // Streaming-shape: tumbling-window aggregation (batch form)
    "q22_events_hourly" -> ((s, dir) => {
      EventsStream.windowedCounts(EventsStream.readEvents(s, s"$dir/events.parquet"), "1 hour")
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // Sessionization (gap-based), batch/SQL-shape form
    "q23_sessions" -> ((s, dir) => {
      EventsStream.sessionizeBatch(EventsStream.readEvents(s, s"$dir/events.parquet"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("user_id", "session_start")
    }),

    // Multimodal: binary payloads with REAL header decoding — image
    // dimensions are parsed out of actual PNG/GIF/BMP container bytes
    // (MediaCodec.decodeImage), audio geometry out of a real RIFF/WAVE
    // chunk walk (MediaCodec.decodeWav), and video geometry out of a real
    // ISO-BMFF box walk (MediaCodec.decodeMp4: tkhd dims, stsz samples);
    // the oracle re-derives all three from the fixture's generation rule,
    // so a decoder that misreads any header hash-mismatches.
    "q24_media_features" -> ((s, dir) => {
      val media = Multimodal.syntheticMedia(s, t(s, dir, "documents"), "doc_id", "text")
      Multimodal.decodeFeatures(s, media)
        .select(col("media_id"), col("kind"), col("format"),
          col("byte_len").cast("long").as("byte_len"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"))
        .orderBy("media_id")
    }),

    // Structured Streaming smoke: same windowed agg through readStream
    "q25_streaming_window" -> ((s, dir) => {
      EventsStream.runStreamingSmoke(s, dir)
        .select(col("window_start"), col("event_type"), col("n_events"),
          round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // Stream-stream join shape (batch form): click -> purchase within 30
    // minutes per user. Same semantics as the watermarked streaming join
    // (EventsStreamSpec proves batch ≡ stream).
    "q38_interval_join" -> ((s, dir) => {
      EventsStream.intervalJoinBatch(
          EventsStream.readEvents(s, s"$dir/events.parquet"), "click", "purchase")
        .select(col("left_id").as("click_id"), col("right_id").as("purchase_id"),
          col("user_id"), col("left_ts").as("click_ts"),
          col("right_ts").as("purchase_ts"),
          round(col("right_value"), 2).as("purchase_value"))
        .orderBy("click_id", "purchase_id")
    }),

    // Bloom-pruned fact⋈dim join: sketch the selective order keys, prune
    // lineitem before the shuffle. Result is exact (the join verifies), so
    // the oracle is the plain join — what the sketch buys is shuffle volume.
    "q39_bloom_pruned_join" -> ((s, dir) => {
      val fact = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      val dim = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      graft.ops.Sketches.bloomPrunedJoin(fact, dim, "l_orderkey", "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("o_totalprice"), 2).as("o_totalprice"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // J7/O6: the condensed-join report engine on TPC-H dimensions — ordered
    // multi-way left joins, per-table duplicate-key blanking (region and
    // nation names appear once per first occurrence in report order), SQL
    // oracle reproduces the window blanking exactly.
    "q40_condensed_report" -> ((s, dir) => {
      import graft.report.CondensedJoin._
      val tables = Map(
        "region" -> t(s, dir, "region").select("r_regionkey", "r_name"),
        "nation" -> t(s, dir, "nation").select("n_regionkey", "n_nationkey", "n_name"),
        "customer" -> t(s, dir, "customer").select("c_nationkey", "c_name", "c_acctbal"))
      val spec = Spec(
        select = Seq("region" -> Seq("r_name"), "nation" -> Seq("n_name"),
          "customer" -> Seq("c_name", "c_acctbal")),
        root = "region",
        joins = Seq(
          Join("nation", "left", _ =>
            col2("region", "r_regionkey") === col2("nation", "n_regionkey")),
          Join("customer", "left", _ =>
            col2("nation", "n_nationkey") === col2("customer", "c_nationkey"))),
        duplicateKey = Map(
          "region" -> Seq(Own("r_name")),
          "nation" -> Seq(Own("n_name")),
          "customer" -> Seq(Own("c_name"))))
      condensed(spec, tables)
        .select(col("region__r_name").as("r_name"), col("nation__n_name").as("n_name"),
          col("customer__c_name").as("c_name"), col("customer__c_acctbal").as("c_acctbal"))
        .orderBy(col("c_name").asc_nulls_first, col("r_name").asc_nulls_first)
    }),

    // J6/J7/O6/F1 end-to-end: the reference's flagship condensed report
    // (phenotype-path drug recommendations, pipeline/Report.groovy:54-114)
    // over the hom fixture job — ordered multi-way left joins including the
    // disjunctive haplotype OR-join (J6), per-table duplicate blanking, and
    // friendly column aliases. The oracle re-derives the ENTIRE chain from
    // the base fixture VALUES: calls → genotype → phenotype → containment →
    // report joins → window blanking.
    "q41_report_phenotype" -> ((s, dir) => {
      graft.report.Reports.phenotypeDrugRecommendationReport(
          s, fixtureStages(s), fixtureRefs(s), 1L)
        .orderBy(col("SAMPLE_ID").asc_nulls_first,
          col("HAPLOTYPE").asc_nulls_first,
          col("`RS#`").asc_nulls_first, col("ALLELE").asc_nulls_first)
    }),

    // The genotype-path condensed report (pipeline/Report.groovy:119-176):
    // same engine, different spine — recommendation → genotype (with
    // surrogate id) → haplotype OR-join → variants.
    "q48_report_genotype" -> ((s, dir) => {
      graft.report.Reports.genotypeDrugRecommendationReport(
          s, fixtureStages(s), fixtureRefs(s), 1L)
        .orderBy(col("SAMPLE_ID").asc_nulls_first,
          col("HAPLOTYPE").asc_nulls_first,
          col("`RS#`").asc_nulls_first, col("ALLELE").asc_nulls_first)
    }),

    // O7: the reference's staircase collapse (Row.groovy:109-185 with the
    // report's canCollapse rule) over the q41 condensed report — all-blank
    // rows merge into their predecessor; a sparse {RS#, ALLELE} row merges
    // only when it extends the accumulated row rightward without overlap.
    // 14 condensed rows collapse to 3 (derived by hand in the oracle).
    "q49_report_collapsed" -> ((s, dir) => {
      val report = graft.report.Reports.phenotypeDrugRecommendationReport(
        s, fixtureStages(s), fixtureRefs(s), 1L)
      val header = report.columns.toSeq
      val rows = graft.report.CondensedJoin.collapseRows(report)
        .map(m => org.apache.spark.sql.Row.fromSeq(header.map(h => m.get(h).orNull)))
        .toSeq
      s.createDataFrame(java.util.Arrays.asList(rows: _*), report.schema)
        .orderBy(col("SAMPLE_ID").asc_nulls_first, col("`RS#`").asc_nulls_first)
    }),

    // S10/F5: distributed DSV line rendering with the reference's null
    // encoding ('' — concat_ws alone would SKIP nulls and shift fields).
    "q42_dsv_render" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      c.select(col("c_custkey"),
          graft.io.DsvWriter.dsvLine(Seq(
            col("c_name"),
            when(col("c_mktsegment") === "BUILDING", lit(null)).otherwise(col("c_mktsegment")),
            col("c_nationkey"), col("c_custkey")), sep = "|").as("dsv_line"))
        .orderBy("c_custkey")
    }),

    // R3/J8/R4: novel-haplotype matrix report — long→wide pivot of the known
    // matrix plus one row per (patient, chromosome, combo) novel call.
    "q43_novel_matrix" -> ((s, dir) => {
      val mats = graft.report.Reports.novelHaplotypeReport(
        s, fixtureStages(s), fixtureRefs(s), 1L)
      mats("g1").orderBy("row_name")
    }),

    // U4: dependency-graph layout parity (levels, 2-D row assignment,
    // dependants — Dependency.groovy:136-317) over the real pipeline shape.
    "q44_stage_graph_layout" -> ((s, _) => {
      import s.implicits._
      val g = graft.pipeline.Pipeline.graphShape
      val (lv, rl, dp) = (g.levels, g.rowLevels, g.dependants)
      lv.keys.toSeq.sorted
        .map(k => (k, lv(k), rl(k), dp(k).size))
        .toDF("stage", "col_level", "row_level", "n_dependants")
        .orderBy("stage")
    }),

    // Skew path: two-phase salted aggregation — identical result to the
    // plain aggregate (the oracle), hot keys spread over 16 partial groups.
    "q45_salted_agg" -> ((s, dir) => {
      graft.ops.Skew.saltedAggregate(
          t(s, dir, "lineitem").select("l_returnflag", "l_quantity"),
          Seq("l_returnflag"), saltBuckets = 16,
          partial = Seq(count(lit(1)).as("c"),
            sum(col("l_quantity").cast("decimal(18,2)")).as("q")),
          merge = Seq(sum(col("c")).as("n_rows"),
            sum(col("q")).cast("double").as("sum_qty")))
        .orderBy("l_returnflag")
    }),

    // Streaming exact-dedup: the q14 aggregate through readStream (state =
    // one (count, min) pair per fingerprint), complete-mode memory sink.
    "q46_streaming_dedup" -> ((s, dir) => {
      Dedup.streamingExactGroups(s, dir, "documents.parquet", "doc_id", "text")
        .orderBy("fingerprint")
    }),

    // Embedding near-dup pairs via IVF cells (data-adaptive complement to
    // q21's hyperplane LSH): same deterministic index build as q20, exact
    // cosine verified within cells only.
    "q47_ivf_cell_pairs" -> ((s, dir) => {
      Similarity.ivfCellNearNeighbors(t(s, dir, "embeddings"), "vec_id", "embedding",
          nlist = 32, threshold = 0.3)
        .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 4).as("cosine_sim"))
        .orderBy("id_a", "id_b")
    }),

    // S14: collapse-by-key (scrape post-processing group-concat)
    "q32_collapse_by_key" -> ((s, dir) => {
      graft.ops.Ingest.collapseByKey(
          t(s, dir, "documents").select("lang", "source"),
          keyCols = Seq("lang"))
        .orderBy("lang")
    }),

    // S11: surrogate-key resolution (dependency-ordered load FK rewrite)
    "q33_fk_resolution" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val (_, resolved) = graft.ops.Ingest.resolveForeignKeys(
        part.select("p_type"), part.select("p_partkey", "p_type"),
        naturalKey = Seq("p_type"), idCol = "type_id")
      resolved.select("p_partkey", "type_id").orderBy("p_partkey")
    }),

    // F6: PharmGKB phenotype-name normalization (regex port)
    "q34_phenotype_normalize" -> ((s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Poor Metabolizers (~"), col("doc_id") % 10, lit("-"),
          col("doc_id") % 20, lit("% of patients).")).as("raw"))
      raw.select(col("doc_id"),
          graft.ops.Ingest.normalizePhenotypeName(col("raw")).as("phenotype_name"))
        .orderBy("doc_id")
    }),

    // BASELINE scenario 1: full pipeline over 100k generated variant rows
    // (reference bound ≤ 10 s, PipelineLoadTest.groovy:65-75); the ingested
    // variant stage is oracle-checked against the closed-form generator.
    "q30_load_pipeline_100k" -> ((s, dir) => {
      val stages = Pipeline.runJob(s, LoadBench.emptyRefs(s), 1L,
        variants = Some(LoadBench.generateVariants(s, 5000, 10)))
      stages.values.foreach(_.count()) // materialize every stage (full job)
      stages("variant")
        .select("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
        .orderBy("patient_id", "snp_id", "physical_chromosome")
    }),

    // BASELINE scenario 2: haplotype calling against a 1,993,200-row matrix
    // (151 snps × 132 haplotypes × 100 genes) with 379×151 variants
    // (reference bound ≤ 5 min, PipelineLoadTest.groovy:83-113). Expected
    // calls have a closed form: samples 1..100 call *1 on both chromosomes.
    "q31_load_gene_haplotype_2M" -> ((s, dir) => {
      import s.implicits._
      val refs = ReferenceTables(
        LoadBench.emptyRefs(s).drugRecommendation,
        LoadBench.emptyRefs(s).genePhenotypeDrugRecommendation,
        LoadBench.generateGeneHaplotypeVariant(s, 151, 132, 100),
        LoadBench.emptyRefs(s).genotypePhenotype,
        LoadBench.emptyRefs(s).genotypeDrugRecommendation)
      val stages = Pipeline.runJob(s, refs, 2L,
        variants = Some(LoadBench.generateVariants(s, 151, 379)))
      stages("geneHaplotype")
        .select("patient_id", "physical_chromosome", "gene_name", "haplotype_name")
        .orderBy("patient_id", "physical_chromosome")
    }),

    // S1: the regex-separator DSV path (Input.groovy:46-140) — the nation
    // table rendered as '|'-separated text with uneven whitespace padding,
    // read back through Dsv.readRegex (header detect + regex split +
    // projection), must round-trip to the parquet original. The 25-row
    // collect is fixture GENERATION, not a data path.
    "q89_dsv_regex" -> ((s, dir) => {
      val base = java.nio.file.Paths.get(scratch("graft-q89"))
      val rows = t(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey").collect()
      val pad = Array("", " ", "  ")
      val lines = "n_nationkey|n_name | n_regionkey" +:
        rows.toSeq.zipWithIndex.map { case (r, i) =>
          s"${r.get(0)}${pad(i % 3)}|${pad((i + 1) % 3)}${r.get(1)}${pad((i + 2) % 3)}| ${r.get(2)}"
        }
      java.nio.file.Files.write(base.resolve("nation.dsv"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      graft.io.Dsv.readRegex(s, base.resolve("nation.dsv").toString,
          sepRegex = "\\s*\\|\\s*",
          header = Seq("n_nationkey", "n_name", "n_regionkey"),
          requireHeader = true)
        .select(col("n_nationkey").cast("int"), col("n_name"),
          col("n_regionkey").cast("int"))
        .orderBy("n_nationkey")
    }),

    // S9 closure mode: Upsert.merge with a caller-supplied per-column merge
    // function (Sql.groovy:399-408's ON DUPLICATE KEY UPDATE closure) —
    // matched keys ADD balances (non-merged columns keep the existing
    // value), unmatched existing rows pass through, unmatched incoming rows
    // insert. Even-key customers are the "existing" side; per-customer
    // order totals are the incoming side, so odd-key customers insert.
    "q90_upsert_merge" -> ((s, dir) => {
      val existing = t(s, dir, "customer")
        .filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey").as("k"),
          col("c_acctbal").cast("decimal(18,2)").as("bal"),
          col("c_mktsegment").as("segment"))
      val incoming = t(s, dir, "orders")
        .groupBy(col("o_custkey").as("k"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("bal"))
        .withColumn("segment", lit("NEW"))
      Upsert.merge(existing, incoming, Seq("k"),
          Map("bal" -> ((old: org.apache.spark.sql.Column,
            nw: org.apache.spark.sql.Column) => old + nw)))
        .select(col("k"), col("bal").cast("double").as("bal"), col("segment"))
        .orderBy("k")
    }),

    // U4 handler semantics (Dependency.groovy:49-54,101-116): hook firing
    // order over a graph with a swallowed failure — beforeBuild after deps,
    // onFail on the rule exception, afterBuild on success AND on swallowed
    // failure, dependants of the failed stage see the missing input and fail
    // in turn, the independent subtree still builds.
    "q91_stage_hooks" -> ((s, dir) => {
      import s.implicits._
      import graft.pipeline.StageGraph
      val events = scala.collection.mutable.Buffer[(Int, String, String)]()
      def ev(stage: String, what: String): Unit =
        events += ((events.size + 1, stage, what))
      def stage(
          deps: Seq[String],
          rule: Map[String, DataFrame] => DataFrame): StageGraph.Stage =
        StageGraph.Stage(deps, rule,
          beforeBuild = Seq(n => ev(n, "before")),
          afterBuild = Seq((n, df) =>
            ev(n, if (df.isDefined) "after_ok" else "after_failed")),
          onFail = Seq((n, _) => ev(n, "onfail")),
          propagateFailure = false)
      val g = StageGraph(
        "base" -> stage(Nil, _ => t(s, dir, "region")),
        "bad" -> stage(Seq("base"),
          _ => throw new RuntimeException("planned failure")),
        "downstream" -> stage(Seq("bad"), dfs => dfs("bad")),
        "healthy" -> stage(Seq("base"),
          dfs => dfs("base").select("r_regionkey", "r_name")))
      val built = g.build() // leaves build name-sorted: downstream, healthy
      require(built.keySet == Set("base", "healthy"))
      events.toSeq.toDF("step", "stage", "event").orderBy("step")
    }),

    // JSONL source round-trip: the documents table exported as JSON-lines
    // shards and read back through the explicit-schema (never inferred)
    // JSONL reader must reproduce the parquet original — the interchange
    // format most LLM corpus tooling ships.
    "q92_jsonl_roundtrip" -> ((s, dir) => {
      val base = scratch("graft-q92")
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.io.JsonLines.write(docs, s"$base/docs.jsonl", shards = 4)
      graft.io.JsonLines.read(s, s"$base/docs.jsonl", docs.schema)
        .orderBy("doc_id")
    }),

    // Deterministic exact-n per-group sample: each source keeps its 10
    // smallest-(md5(id), id) documents via the bounded CollectTopK
    // aggregate — the count-based complement of q50's rate cut; the
    // selected ids differ per scale (different corpora) but the count is
    // exactly 10 × sources at any scale ≥ 10 docs/source.
    "q93_per_group_sample" -> ((s, dir) => {
      graft.ops.Sampling.perGroupSampleExact(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", n = 10)
        .orderBy("source", "doc_id")
    }),

    // Unicode NFC normalization ahead of fingerprinting: odd docs carry a
    // DECOMPOSED suffix (e + combining acute U+0301), even docs the
    // composed form (U+00E9) — after NFC both render the same codepoints,
    // so the md5 fingerprints line up and exact dedup sees through the
    // encoding difference. The oracle is the engine-native nfc_normalize.
    "q94_nfc_normalize" -> ((s, dir) => {
      import graft.functions.UnicodeExpressions
      val suffix = when(col("doc_id") % 2 === 1, lit(" cafe\u0301"))
        .otherwise(lit(" caf\u00e9"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          UnicodeExpressions.nfc(concat(col("text"), suffix)).as("text_nfc"))
        .withColumn("fp", md5(col("text_nfc")))
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff: old = the documents table; new = a derived
    // refresh (every 7th doc dropped, every 3rd survivor edited, every 5th
    // re-added under a shifted id) — the add/remove/change/unchanged audit
    // an incremental ingest publishes per crawl. Fingerprints computed
    // before the full-outer join, so the shuffle carries (id, fp), never
    // text.
    "q95_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Curation.snapshotDiff(old, nw, "doc_id", "text").orderBy("doc_id")
    }),

    // Count-relative per-stratum selection: each source keeps its top 25%
    // longest documents — rank and stratum size from one window pass, the
    // kept count scaling with each stratum (vs q79/q93's fixed k).
    "q96_percentile_gate" -> ((s, dir) => {
      graft.ops.Sampling.percentileGate(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", keepFraction = 0.25)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rank"), col("stratum_n"))
        .orderBy("source", "rank")
    }),

    // ORC round-trip: the documents table exported as ORC shards and read
    // back through the explicit-schema reader must reproduce the parquet
    // original — the Hive-lineage columnar interchange twin of q92.
    "q97_orc_roundtrip" -> ((s, dir) => {
      val base = scratch("graft-q97")
      val docs = t(s, dir, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      graft.io.Orc.write(docs, s"$base/docs.orc", shards = 4)
      graft.io.Orc.read(s, s"$base/docs.orc", docs.schema).orderBy("doc_id")
    }),

    // Temperature-based mixture: per-source keep rates from the corpus's
    // own (char-count) totals tempered at alpha = 0.5, applied through the
    // integer-exact md5 cut — the multilingual rebalancing recipe, derived
    // entirely in-plan (one strata-sized aggregate, no collect).
    "q98_temperature_mix" -> ((s, dir) => {
      graft.ops.Sampling.temperatureMixture(
          t(s, dir, "documents").select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", budget = 50000L, alpha = 0.5)
        .orderBy("doc_id")
    }),

    // PQ/ADC approximate k-NN: 8-subspace × exactly-16-codeword product
    // quantization (codebook = the 16 smallest-(md5, id) vectors — a
    // configuration constant at any corpus size), packed-long codes, ADC
    // candidate scan (per-row table-lookup sum — no vector bytes), exact
    // cosine re-rank of the top 20 per query. The full two-stage PQ search
    // re-derived in SQL by the oracle.
    "q99_pq_adc_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", m = 8,
        targetKs = 16)
      val enc = Similarity.pqEncode(emb, "vec_id", "embedding", cb)
      Similarity.pqTopK(enc, emb, "vec_id", "embedding", cb,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // Matryoshka prefix-dim retrieval: candidates by cosine over the first
    // 16 of 64 components (4× fewer bytes scanned per vector), exact
    // full-dim re-rank of the top 20 — the MRL-style two-stage search,
    // fully re-derived in SQL by the oracle.
    "q100_prefix_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.prefixTopKJoin(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          prefixDim = 16, k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // BPE merge training: the first 8 learned merges over the documents
    // table — the iterative argmax-and-rewrite loop is not expressible as
    // one SQL query (each rank depends on the previous rewrite), so this
    // entry carries no oracle and takes the driver's rows-only check; the
    // hand-derived Sennrich walkthrough in CurationSpec covers the
    // semantics, and q83's oracle covers the rank-1 decision table.
    "q101_bpe_merges" -> ((s, dir) => {
      // localVocabLimit: the operator's documented scale dial — when the
      // distinct-word table provably fits (count ≤ limit, checked on the
      // materialized aggregate), the 8 merge rounds run driver-local over
      // the collected (freq, syms) vocabulary instead of 8× (corpus-vocab
      // pair aggregate + argmax collect + rewrite checkpoint) Spark
      // rounds; CurationSpec proves the two paths bit-identical and the
      // distributed fallback engages untouched past the limit (the
      // union-find ≤1M-edge precedent). Measured 2.8 → 0.6 s at sf0.1.
      Curation.bpeTrainMerges(t(s, dir, "documents"), "text", numMerges = 8,
          localVocabLimit = 1L << 20)
        .orderBy("rank")
    }),

    // Backward as-of join: every purchase joined to the user's latest
    // prior (or simultaneous) click — the fact→latest-dimension-version
    // pattern. Built as tag + union + per-key forward fill (one shuffle,
    // no range explosion); the oracle is DuckDB's native ASOF LEFT JOIN.
    // Clicks pre-deduped to one row per (user, ts) — as-of ties among
    // duplicate right timestamps have no defined winner in any engine.
    "q102_asof_join" -> ((s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id", "value")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts").as("click_ts"))
        .agg(expr("max_by(value, event_id)").as("click_value"))
      TemporalJoins.asofJoin(purchases, "ts", clicks, "click_ts", Seq("user_id"))
        .select(col("event_id"), col("ts"), col("user_id"),
          round(col("value"), 2).as("value"),
          col("click_ts"), round(col("click_value"), 2).as("click_value"))
        .orderBy("event_id")
    }),

    // Point-in-interval range join: every error event inside a 2-hour
    // window opened by the same user's signup (start inclusive, end
    // exclusive; overlapping windows each match). Bucketized to an equi
    // join on (user, hour-bucket) + residual bounds — never a
    // nested-loop/cartesian plan; the oracle is the plain range-predicate
    // join.
    "q103_range_join" -> ((s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "ts", "user_id")
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("ts").as("start_ts"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("end_ts"))
      TemporalJoins.rangeJoin(errors, "ts", windows, "start_ts", "end_ts",
          Seq("user_id"), bucketSeconds = 3600L)
        .select(col("event_id"), col("ts"), col("user_id"), col("start_ts"))
        .orderBy("event_id", "start_ts")
    }),

    // Interval-overlap join: 2-hour signup windows × 1-hour error windows
    // per user, every overlapping pair exactly once — both sides exploded
    // to hour buckets, pairs kept in the overlap-start bucket only, so the
    // equi-join plan needs no post-join distinct.
    "q104_interval_join" -> ((s, dir) => {
      import graft.ops.TemporalJoins
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("l_id"),
          col("ts").as("l_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("l_end"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("event_id").as("r_id"),
          col("ts").as("r_start"),
          (col("ts") + expr("INTERVAL 1 HOURS")).as("r_end"))
      TemporalJoins.intervalJoin(signups, "l_start", "l_end",
          errors, "r_start", "r_end", Seq("user_id"), bucketSeconds = 3600L)
        .select(col("l_id"), col("r_id"), col("l_start"), col("r_start"))
        .orderBy("l_id", "r_id")
    }),

    // Canonical-selection dedup: q51's near-dup clusters, but each cluster
    // keeps its LONGEST member (ties to the lowest id) instead of the
    // arbitrary minimum id — the release-pipeline policy. The oracle
    // replays the recursive closure plus the max-score/min-id winner rule.
    "q105_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.keepListBy(docs.select("doc_id", "n_chars"), "doc_id", "n_chars",
          nearDupReleaseClusters(s, dir))
        .orderBy("doc_id")
    }),

    // Hard-negative mining for contrastive training: per query, the top-5
    // most-similar vectors with a DIFFERENT label — the mismatch filter
    // runs in the scan stage, before the bounded top-k.
    "q106_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("vec_id"), col("label"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // BM25 keyword retrieval: Lucene-form scoring, df computed only for
    // the query vocabulary, per-(query, doc) contributions folded over the
    // term-sorted list, top-10 per query via the bounded aggregate. The
    // oracle re-derives the whole scoring chain.
    "q107_bm25_topk" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (0L, "spark window agg"), (1L, "customer query table"),
        (2L, "vector merge stream"), (3L, "slow scan filter"))
        .toDF("query_id", "query_text")
      Retrieval.bm25TopK(t(s, dir, "documents"), "doc_id", "text",
          queries, "query_id", "query_text", k = 10)
        .orderBy("query_id", "rank")
    }),

    // Scalar (int8) quantization two-stage k-NN: per-dimension min/max
    // codes, midpoint-reconstructed approximate cosine candidates, exact
    // re-rank — the middle rung between raw float32 and q99's PQ.
    "q108_sq8_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = Similarity.sqParams(emb, "embedding")
      val enc = Similarity.sqEncode(emb, "vec_id", "embedding", p)
      Similarity.sqTopK(enc, emb, "vec_id", "embedding", p,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // DSIR-style importance weights: per-doc average unigram log-likelihood
    // ratio of the English stratum vs the raw corpus (add-one smoothing
    // over the raw vocabulary), folded over the token-sorted list.
    "q109_importance_weights" -> ((s, dir) => {
      Curation.importanceWeights(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en")
        .orderBy("doc_id")
    }),

    // Exact repeated-span dedup (Lee et al. substring recipe, tiled):
    // 20-char windows every 10, duplicated window contents keep only their
    // first (doc, pos) occurrence, every other occurrence's range excised.
    // The oracle replays windows -> keeper election -> interval merge ->
    // reassembly.
    "q110_span_dedup" -> ((s, dir) => {
      Dedup.repeatedSpanDedup(t(s, dir, "documents"), "doc_id", "text",
          spanLen = 20, stride = 10)
        .orderBy("doc_id")
    }),

    // Surgical span-level decontamination: excise exactly the character
    // ranges reproducing a benchmark passage (q56's doc split), instead
    // of dropping whole documents — benchmark windows at stride 1
    // broadcast, corpus windows at stride 10, q110's excision fold.
    "q112_excise_passages" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.excisePassages(docs.filter(col("doc_id") >= 25), "doc_id",
          "text", docs.filter(col("doc_id") < 25), "text",
          spanLen = 20, stride = 10)
        .orderBy("doc_id")
    }),

    // One-row dedup audit card over q51's near-dup clusters: corpus size,
    // clustered docs, cluster count, drop count/fraction, biggest cluster.
    "q113_dedup_audit_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.auditCard(docs, "doc_id", nearDupReleaseClusters(s, dir))
    }),

    // IVF + int8 SQ composed index (the FAISS IVF32,SQ8 shape): route to
    // 4 of 32 cells, scan only probed cells' codes, shortlist 20 by
    // reconstruction cosine, exact re-rank to top-5. The oracle composes
    // q72's assignment chain with q108's quantization chain.
    "q114_ivf_sq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val p = Similarity.sqParams(emb, "embedding")
      val index = Similarity.ivfSqIndex(emb, "vec_id", "embedding",
        nlist = 32, p)
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      Similarity.ivfSqTopK(index, centroids, emb, "vec_id", "embedding", p,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nprobe = 4, rerank = 20)
        .select(col("query_id"), col("vec_id"),
          round(col("cosine_sim"), 4).as("cosine_sim"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    // Linear quality-classifier gate: fixed-weight margin over the q74
    // signal columns (the fastText/CCNet classifier shape with training
    // externalized); keep <=> margin >= 0, no exp in the plan.
    "q111_quality_margin" -> ((s, dir) => {
      Curation.qualityMargin(t(s, dir, "documents"), "doc_id", "text",
          weights = Seq(0.002, 0.15, -4.0, 3.0, -2.0, -1.5), bias = -0.6,
          separator = " ")
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("mean_word_len"), col("punct_ratio"), col("stopword_ratio"),
          col("dup_segment_frac"), col("top_bigram_frac"),
          col("margin"), col("keep"))
        .orderBy("doc_id")
    }),

    // Pattern redaction (PII scrub): the synthetic corpus carries no PII,
    // so the query first appends deterministic pseudo-PII derived from
    // doc_id (an email, a dotted IPv4, a 7-digit reference number), then
    // redacts with the default policy — each rule's count is the spans it
    // actually rewrote, in rule order.
    "q115_redact_pii" -> ((s, dir) => {
      val docs = t(s, dir, "documents").withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10."), (col("doc_id") % 256).cast("string"),
          lit(".0.1 ref "), (col("doc_id") * 7919 + 1000000).cast("string")))
      Curation.redactPatterns(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Deterministic weighted sample without replacement (priority
    // sampling): 100 docs, inclusion odds proportional to n_chars, the
    // priority one IEEE division of integer-exact doubles — the oracle
    // replays the identical arithmetic from the md5 hex digits.
    "q116_priority_sample" -> ((s, dir) => {
      graft.ops.Sampling.prioritySample(t(s, dir, "documents"),
          "doc_id", "n_chars", n = 100)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    }),

    // Leakage-safe split assignment: every near-dup cluster member hashes
    // its cluster representative through the q68 md5 range cut, so
    // near-copies can never straddle train/eval; singletons get exactly
    // their q68 assignment.
    "q117_cluster_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minHashNearDuplicates(docs, "doc_id", "text",
        threshold = 0.5, numHashes = 8, bands = 4, shingleLen = 3)
      graft.ops.Sampling.clusterAwareSplit(docs, "doc_id",
          Dedup.duplicateClusters(pairs),
          Seq("test" -> 0.1, "validation" -> 0.1))
        .select("doc_id", "split_rep", "split")
        .orderBy("doc_id")
    }),

    // BPE encoding with a fixed 6-merge table (the apply half of q101's
    // trainer): each distinct word replays the merges in rank order, docs
    // reassemble in word order. The oracle replays the same greedy
    // left-to-right rewrites as sentinel-char string replaces — string
    // replace IS the non-overlapping symbol rewrite when every symbol is
    // one char.
    "q119_bpe_encode" -> ((s, dir) => {
      // The library returns bpe_tokens as array<string>; the gate surface
      // space-joins it (tokens never contain whitespace — the tokenizer
      // split on it) so the hash compare runs over scalar columns.
      Curation.bpeEncode(t(s, dir, "documents"), "doc_id", "text",
          merges = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
            ("a", "</w>"), ("s", "t"), ("e", "a")))
        .select(col("doc_id"),
          array_join(col("bpe_tokens"), " ").as("bpe_text"),
          col("n_bpe_tokens"))
        .orderBy("doc_id")
    }),

    // Incremental re-dedup at snapshot refresh: q95's diff marks the
    // added∪changed slice, and ONLY that slice bands against the untouched
    // remainder (q78's cross-corpus machinery) — the composition that
    // avoids re-deduping the whole corpus on every crawl increment.
    "q120_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val old = docs.select(col("doc_id"), col("text"))
      val nw = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      // The diff output feeds BOTH sides of the banding composition
      // (semi-join + anti-join on the new snapshot) — pin the small
      // touched-id frame so the md5 snapshot diff computes once, not
      // once per side (guide §3.3).
      val touched = Checkpoints.pin(
        Curation.snapshotDiff(old, nw, "doc_id", "text")
        .filter(col("status").isin("added", "changed"))
        .select(col("doc_id")))
      Dedup.crossCorpusNearDuplicates(
          nw.join(touched, Seq("doc_id")), "doc_id",
          nw.join(touched, Seq("doc_id"), "left_anti"), "doc_id",
          "text", threshold = 0.5)
        .orderBy("corpus_id", "ref_id")
    }),

    // Hybrid retrieval: BM25 top-20 and dense-cosine top-20 over the
    // embedding-indexed document subset, fused with reciprocal rank
    // fusion (1/(60+rank), tag-sorted sum), final top-10 per query. Rank
    // positions are all that cross the fusion boundary — no score
    // calibration.
    "q121_hybrid_rrf" -> ((s, dir) => {
      // The documents⋈embeddings join feeds FOUR independent consumers
      // (bm25 stats pass, bm25 scoring pass, the dense half, and the
      // corpus-derived query frame, which every operator's bounded-check/
      // vocab/broadcast action re-executes). Materialize the join once —
      // guide §3.3/§5: when a composed query re-executes a join per
      // action, pin the intermediate instead of paying the join 4×. The
      // pin is a plan leaf, so downstream plans do not re-analyze the
      // join subtree per action (§3.3 "materialising an intermediate
      // truncates the plan").
      val corpus = Checkpoints.pin(t(s, dir, "documents")
        .join(t(s, dir, "embeddings"), col("doc_id") === col("vec_id")))
      val qdocs = corpus.filter(col("doc_id") < 4)
      val lex = graft.ops.Retrieval.bm25TopK(
        corpus.select("doc_id", "text"), "doc_id", "text",
        qdocs.select(col("doc_id").as("query_id"),
          col("text").as("query_text")),
        "query_id", "query_text", k = 20)
      val dense = Similarity.topKJoin(
        corpus.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        qdocs.select(col("doc_id"), col("embedding")), "doc_id", "embedding",
        k = 20)
      graft.ops.Retrieval.rrfFuse(
          Seq(("bm25", lex.select("query_id", "doc_id", "rank")),
            ("dense", dense.select("query_id", "doc_id", "rank"))),
          "doc_id", k = 10)
        .orderBy("query_id", "rank")
    }),

    // MMR diversified re-ranking: top-8 cosine candidates per query,
    // greedy λ=0.5 selection of 4 (6-dp-rounded scores, ties to the lowest
    // id). The oracle unrolls the greedy loop step by step.
    "q118_mmr_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ops.Retrieval.mmrRerank(emb, "vec_id", "embedding",
          emb.filter(col("vec_id") < 4), "vec_id", "embedding",
          k = 4, m = 8, lambda = 0.5)
        .orderBy("query_id", "mmr_rank")
    }),

    // SCD2 history build: each user's coarse engagement tier
    // (floor(value/10) over view events) collapsed into type-2 versions —
    // change-detect lag, valid_from/valid_to half-open bounds, version
    // ordinal. One shuffle on user_id; both windows ride the same
    // per-key ordering.
    "q122_scd2_build" -> ((s, dir) => {
      import graft.ops.TemporalJoins
      val src = EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 10).cast("long").as("tier"))
      TemporalJoins.scd2Build(src, Seq("user_id"), "ts", "event_id",
          Seq("tier"))
        .orderBy("user_id", "version")
    }),

    // Ordered funnel over a thinned stream (event_id < 3000 keeps
    // conversion informative): signup → click → purchase, greedy
    // first-match chain ≡ the oracle's chained-min SQL funnel.
    "q123_funnel" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      EventAnalytics.funnelReport(
        EventsStream.readEvents(s, s"$dir/events.parquet")
          .filter(col("event_id") < 3000),
        "event_type", "ts", "event_id", "user_id",
        Seq("signup", "click", "purchase"))
    }),

    // Cohort retention triangle over a 1-in-7 subsample (spreads first
    // events across weeks): Monday-week cohorts × integer week offsets.
    "q124_cohort_retention" -> ((s, dir) => {
      import graft.ops.EventAnalytics
      EventAnalytics.cohortRetention(
        EventsStream.readEvents(s, s"$dir/events.parquet")
          .filter(col("event_id") % 7 === 0),
        "ts", "user_id")
    }),

    // Streaming twin of q123: per-user funnel positions maintained in
    // mapGroupsWithState (Update mode, two-scalar state per user), sink
    // drained and folded into the identical report — the kappa posture
    // for conversion reporting, gated by the same chained-min oracle.
    "q125_streaming_funnel" -> ((s, dir) => {
      EventsStream.runFunnelStreamingSmoke(s, dir,
        Seq("signup", "click", "purchase"), col("event_id") < 3000)
    }),

    // Streaming twin of q124: per-user (cohort week, active-week set)
    // state — bounded by weeks observed, not events — drained into the
    // identical retention triangle and gated by the same oracle.
    "q126_streaming_cohort" -> ((s, dir) => {
      EventsStream.runCohortStreamingSmoke(s, dir, col("event_id") % 7 === 0)
    }),

    // Streaming CDC twin of q122: each user's current dimension version
    // is flatMapGroupsWithState state; a change CLOSES it and emits it
    // exactly once, so the sink holds the closed-version history — the
    // incremental dimension-maintenance pattern. Gate = the batch build's
    // closed subset (open versions ARE the in-flight state).
    "q127_streaming_scd2" -> ((s, dir) => {
      EventsStream.runScd2StreamingSmoke(s, dir,
          Seq("tier" -> floor(col("value") / 10).cast("long")),
          "tier BIGINT", col("event_type") === "view")
        .orderBy("user_id", "version")
    }),

    // LSH tuning self-check: per-threshold precision/recall of the
    // 8-hash/4-band MinHash candidate set against exact shingle-set
    // Jaccard ground truth — the table that closes the dedup-tuning loop
    // (q16 candidates, q17-style exact truth). `precision`/`recall`
    // surface as prec/rec (PRECISION is a DuckDB type keyword).
    "q128_lsh_quality_sweep" -> ((s, dir) => {
      Dedup.lshQualityReport(t(s, dir, "documents"), "doc_id", "text",
          thresholds = Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8),
          numHashes = 8, bands = 4, shingleLen = 3)
        .select(col("threshold"), col("n_true"), col("n_cand"), col("tp"),
          col("precision").as("prec"), col("recall").as("rec"))
        .orderBy("threshold")
    }),

    // Release-gate distribution drift: PSI of the n_chars distribution,
    // src0 slice as the frozen reference vs src3 as the incoming slice,
    // fixed bucket edges (drift monitoring bins against a frozen
    // reference binning, not re-derived quantiles). Σ psi_term is the
    // classic PSI.
    "q129_drift_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.driftReport(
          docs.filter(col("source") === "src0"),
          docs.filter(col("source") === "src3"),
          "n_chars", Seq(100.0, 200.0, 400.0, 800.0, 1600.0))
        .orderBy("bucket")
    }),

    // Multi-dimensional data layout: Z-order clustering audit over
    // lineitem's (part, supplier) keys. 16 = 4² Morton-range buckets →
    // every bucket's min/max envelope spans ≤ ¼ of EACH dimension (a 1-D
    // sort leaves one dimension at full span) — the footer statistics a
    // 100 TB scan prunes multi-predicate queries with.
    "q130_zorder_layout" -> ((s, dir) => {
      graft.ops.Layout.zorderLayoutReport(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", bits = 8, nBuckets = 16)
        .orderBy("bucket")
    }),

    // CCNet-style LM quality bucketing: interpolated bigram model trained
    // on the vetted src0 slice scores every document's cross-entropy;
    // fixed thresholds split head/middle/tail (≈p10/p90 of the sf0.01
    // distribution).
    "q131_bigram_lm_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.bigramLmQuality(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          lambda = 0.9, headBits = 5.2, tailBits = 5.8)
        .orderBy("doc_id")
    }),

    // Watermark sizing study: replay events in simulated arrival order
    // (event time + a deterministic md5 network delay ≤ 30 min) and count
    // what a 10-minute watermark would drop per hour. The running
    // event-time frontier is an exact distributed prefix scan — never a
    // single-partition window over events.
    "q132_late_data_audit" -> ((s, dir) => {
      val jitter = (conv(substring(md5(col("event_id").cast("string")), 1, 4),
        16, 10).cast("long") * lit(1800000000L)) // ≤30 min in 65536ths
      val ev = EventsStream.readEvents(s, s"$dir/events.parquet")
        .withColumn("arr",
          unix_micros(col("ts")) + call_function("div", jitter, lit(65536L)))
      graft.ops.EventAnalytics.lateDataAudit(ev, "arr", "event_id", "ts",
          delayUs = 600000000L, batchUs = 3600L * 1000000L)
        .orderBy("window_start")
    }),

    // Tokenizer evaluation: per-language fertility (BPE tokens / word) and
    // compression (chars / BPE token) of q101/q119's fixed merge table —
    // the cross-lingual bias report every multilingual tokenizer ships
    // with, riding the distinct-word vocabulary encode.
    "q133_tokenizer_fertility" -> ((s, dir) => {
      Curation.tokenizerFertilityReport(t(s, dir, "documents"), "doc_id",
          "text", "lang", col("n_chars"),
          merges = Seq(("t", "h"), ("th", "e"), ("the", "</w>"),
            ("a", "</w>"), ("s", "t"), ("e", "a")))
        .orderBy("lang")
    }),

    // Objective construction: every curated doc becomes a T5-style
    // denoising pair — block-stratified span masking (all decisions pure
    // functions of (id, block), no sequential scan state), ~25% of blocks
    // masked, spans 1–3 tokens, block-indexed sentinels.
    "q134_span_corruption" -> ((s, dir) => {
      Curation.spanCorruption(t(s, dir, "documents"), "doc_id", "text",
          blockSize = 4, maskNum = 1024, maxSpan = 3)
        .orderBy("doc_id")
    }),

    // Retrieval-quality evaluation: label-relevance nDCG@10 of EXACT
    // cosine retrieval (leave-one-in) — the measured floor the
    // approximate indexes (q20/q99/q108/q114) are held to, the dense
    // mirror of q128's dedup-tuning sweep.
    "q135_retrieval_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Retrieval.ndcgReport(emb, "vec_id", "embedding", "label",
          emb.filter(col("vec_id") < 8), "vec_id", "embedding", k = 10)
        .orderBy("query_id")
    }),

    // Exact token-budget prefix: admit docs in deterministic md5 order
    // until cumulative tokens cross 8000 (q75 hits a budget in
    // expectation; a release manifest wants the exact minimal-overshoot
    // cut). Cumulative count = the distributed prefix scan, md5-hex
    // bucketed — no single-partition sort at any scale.
    "q136_budget_prefix" -> ((s, dir) => {
      graft.ops.Sampling.exactBudgetPrefix(t(s, dir, "documents"), "doc_id",
          TextFunctions.tokenCount(col("text")), budget = 8000L)
        .orderBy("cum_before", "doc_id")
    }),

    // Mixture feasibility planning: the requested mix over-asks the four
    // headline sources (src0 wants 30% of 10k tokens from a ~1.4k-token
    // source at sf0.01), so water-filling caps them and redistributes —
    // the reconciliation run BEFORE the samplers execute a mix.
    "q137_mixture_plan" -> ((s, dir) => {
      val stats = t(s, dir, "documents")
        .groupBy("source")
        .agg(sum(TextFunctions.tokenCount(col("text")).cast("long"))
          .as("tokens"))
        .withColumn("weight",
          when(col("source") === "src0", 0.30)
            .when(col("source") === "src1", 0.20)
            .when(col("source") === "src2", 0.15)
            .when(col("source") === "src3", 0.10)
            .otherwise(0.015625))
      graft.ops.Sampling.mixturePlan(stats, "source", "tokens", "weight",
          budget = 10000L)
        .orderBy("source")
    }),

    // Streaming-shape: SLIDING-window aggregation (batch form) — the
    // overlapping-window member next to tumbling (q22) and session (q23).
    // The window generator multiplies rows inside the scan; the one hash
    // aggregate shuffles O(groups).
    "q138_sliding_window" -> ((s, dir) => {
      EventsStream.slidingCounts(
          EventsStream.readEvents(s, s"$dir/events.parquet"),
          "1 hour", "15 minutes")
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // Score calibration: map n_chars to its approximate corpus percentile
    // via a fixed bucket grid (q129's edges) — deterministic, scan-shaped
    // (no corpus sort, no sketch), comparable across sources.
    "q139_quantile_normalize" -> ((s, dir) => {
      Curation.quantileNormalize(t(s, dir, "documents"), "doc_id",
          "n_chars", Seq(100.0, 200.0, 400.0, 800.0, 1600.0))
        .orderBy("doc_id")
    }),

    // Kappa twin of q138: the SAME sliding-window generator+aggregate
    // maintained incrementally over the event stream; state is one row
    // per open (window, type) group. Oracle = q138's batch SQL.
    "q140_streaming_sliding" -> ((s, dir) => {
      EventsStream.runStreamingSlidingSmoke(s, dir)
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n_events"), round(col("total_value"), 2).as("total_value"))
        .orderBy("window_start", "event_type")
    }),

    // Crawl-increment novelty: distinct word-3-grams of every document
    // anti-joined against the seen corpus's (src0) gram fingerprints —
    // both sides corpus-scale, so both shuffle on 16-byte md5 keys (the
    // benchmark-decontamination broadcast does NOT apply here).
    "q141_novelty_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.noveltyReport(docs, "doc_id", "text",
          docs.filter(col("source") === "src0"), "text", n = 3)
        .orderBy("doc_id")
    }),

    // URL canonicalization over a constructed messy-URL column (the
    // tables carry no URLs, so BOTH engines derive the same raw URL from
    // (doc_id, source) — the rule matrix under test: case folding,
    // default ports, userinfo, www/root-dot, tracking params, param
    // sort, fragments, trailing slashes). Pure scan-projection work —
    // regexps + array HOFs, no shuffle.
    "q142_url_canonicalize" -> ((s, dir) => {
      t(s, dir, "documents").withColumn("url", expr(messyUrlSpark))
        .select(col("doc_id"), Web.urlHost(col("url")).as("host"),
          Web.canonicalizeUrl(col("url")).as("canonical"))
        .orderBy("doc_id")
    }),

    // Host-level crawl statistics on the same constructed URLs: raw URL
    // count vs distinct canonical pages per host, collapse rate in exact
    // integer ppm — the host-budget signal (a host whose URLs collapse
    // heavily serves churned tracking params). One hash aggregate.
    "q143_host_report" -> ((s, dir) => {
      Web.hostReport(
          t(s, dir, "documents").withColumn("url", expr(messyUrlSpark)),
          "url")
        .orderBy("host")
    }),

    // Unigram-LM (SentencePiece-style) tokenizer training: substring seed
    // vocabulary + 2 hard-EM rounds (Viterbi E-step as one aggregate HOF
    // per word, integer micro-nat costs so every DP comparison is exact).
    // The corpus is scanned once (word frequencies); EM runs over the
    // zipf-bounded distinct-word table with the model-sized cost map
    // broadcast. Completes the second major tokenizer family next to
    // BPE (q101/q119/q133).
    "q144_unigram_lm" -> ((s, dir) => {
      graft.ops.UnigramLm.train(t(s, dir, "documents"), "text",
          vocabSize = 50, maxPieceLen = 4, emIters = 2, maxWordLen = 30)
        .orderBy(col("n").desc, col("piece"))
    }),

    // Per-host crawl-budget cap (C4/RefinedWeb domain-diversity rule):
    // at most 30 docs per canonical host by the deterministic (md5, id)
    // priority; bounded CollectTopK per host — a zipf-hot host costs the
    // same as a cold one, no per-host sort/window over raw rows.
    "q146_host_cap_sample" -> ((s, dir) => {
      Web.hostCapSample(
          t(s, dir, "documents").withColumn("url", expr(messyUrlSpark)),
          "url", "doc_id", maxPerHost = 30)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // Host-authority ranking (Common-Crawl-style seed prioritization):
    // integer-exact PageRank over a deterministic host link graph derived
    // from doc_ids (both engines build the same multigraph). Per
    // iteration ONE edge-side equi-join + ONE dst-key aggregate; rank
    // arithmetic is all-Long micro-units, so the result is a pure
    // function of the edge list — no float folds to drift.
    "q147_host_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      def ed(m: Int, a: Int, b: Int) = docs.select(
        expr("concat('h', cast(doc_id % 23 AS string))").as("src"),
        expr(s"concat('h', cast((doc_id * $m + $a) % $b AS string))").as("dst"))
      graft.ops.Graphs.pageRank(
          ed(7, 3, 23).unionByName(ed(5, 1, 23)), "src", "dst", iters = 3)
        .orderBy(col("rank_u").desc, col("node"))
    }),

    // Deploy-time twin of q144: encode the corpus with the trained
    // unigram vocabulary and report per-language fertility (pieces/word)
    // and compression (chars/token) in exact integer ppm — the BPE
    // fertility report's (q133) second-tokenizer-family counterpart.
    "q145_unigram_fertility" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.ops.UnigramLm.train(docs, "text",
        vocabSize = 50, maxPieceLen = 4, emIters = 2, maxWordLen = 30)
      graft.ops.UnigramLm.fertilityReport(docs, "doc_id", "text", "lang",
          col("n_chars"), vocab, maxPieceLen = 4, maxWordLen = 30)
        .orderBy("lang")
    }),

    // EM observability for q144's unigram trainer: per-round corpus
    // Viterbi cost (integer micro-nats — the corpus negative
    // log-likelihood under the hard-EM objective) plus the corpus token
    // total, for the seed model and after each of the 2 EM rounds. The
    // numbers that turn "emIters = 2" from faith into a measurement;
    // the oracle replays all three segmentation passes in DuckDB.
    "q148_unigram_likelihood" -> ((s, dir) => {
      graft.ops.UnigramLm.trainWithLikelihood(t(s, dir, "documents"),
          "text", vocabSize = 50, maxPieceLen = 4, emIters = 2,
          maxWordLen = 30)
        ._2.orderBy("round")
    }),

    // IVF index maintenance signal: per-cell member count + angular
    // displacement (integer ppm of cosine distance) between each PINNED
    // centroid and its cell's current member mean — the drift report
    // that tells a streaming-grown index (q82) when its build-time
    // geometry no longer fits and ivfRecluster should run. Member means
    // quantize per-dimension to integer micro-units BEFORE summing, so
    // the corpus-order fold is exact in both engines; centroid set is
    // q82's own (hash-sampled, 32 target cells).
    "q149_ivf_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val thr = Similarity.sampleThreshold(32L, emb.count())
      val centroids = emb
        .filter(Similarity.hashSampleByThreshold(col("vec_id"), thr))
        .select(col("vec_id").as("centroid_id"),
          col("embedding").as("centroid_vec"))
      val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding",
        nlist = 32)
      Similarity.ivfDriftReport(assigned, centroids, "embedding")
        .orderBy("centroid_id")
    }),

    // Wide→long matrix ingestion (reference
    // script/gene_haplotype_matrix_to_table.py:22-30): a deterministic
    // wide allele matrix derived from `nation` (haplotype column + three
    // SNP columns, with blank, whitespace-only and NULL cells planted)
    // unpivots to (gene_name, haplotype_name, snp_id, allele) long form;
    // blank cells surface as NULL but their rows are still emitted.
    "q150_matrix_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "nation").select(
        col("n_name").as("haplotype"),
        when(col("n_nationkey") % 7 === 0, lit(""))
          .otherwise(substring(col("n_name"), 2, 1)).as("rs1"),
        when(col("n_nationkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(upper(substring(col("n_name"), 1, 1))).as("rs2"),
        concat(lit("a"), (col("n_nationkey") % 4).cast("string")).as("rs3"))
      graft.ops.Ingest.matrixToLong(wide, "g1")
        .orderBy("haplotype_name", "snp_id")
    }),

    // The unbounded boilerplate-strip fallback (anti-join plan, never
    // collects) gated against the SAME oracle as q57's broadcast default
    // — the two plans must stay value-identical forever.
    "q151_strip_shuffle" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curation.stripBoilerplateShuffle(docs, "doc_id", "text",
          " ", Left(docs.count() * 8 / 10))
        .orderBy("doc_id")
    }),

    // The SQL table-function surface gated through DuckDB: graft_pivot
    // FROM-callable must produce exactly the q04 pivot (the builder
    // returns the Column API's logical plan; this proves it end-to-end
    // against an independent engine, not just against the Column API).
    "q152_sql_pivot" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "lineitem").createOrReplaceTempView("graft_q152_lineitem")
      s.sql(
        "SELECT * FROM graft_pivot('graft_q152_lineitem', 'l_orderkey', " +
          "'l_orderkey=>l_orderkey, l_partkey->part1|part2', " +
          "'l_linenumber,l_partkey') ORDER BY l_orderkey")
    }),

    // The second curation flagship through the SQL TVF surface:
    // graft_decontaminate FROM-callable, gated against an independent
    // DuckDB replay of the 6-gram survivor semantics (q56's oracle
    // machinery inverted to the kept rows — the q152 pattern).
    "q153_sql_decontaminate" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, dir, "documents")
      docs.filter(col("doc_id") >= 25)
        .createOrReplaceTempView("graft_q153_corpus")
      docs.filter(col("doc_id") < 25)
        .createOrReplaceTempView("graft_q153_bench")
      s.sql(
        "SELECT doc_id FROM graft_decontaminate('graft_q153_corpus', " +
          "'doc_id', 'text', 'graft_q153_bench', 'text', 6) " +
          "ORDER BY doc_id")
    }),

    // The near-dedup flagship through the SQL TVF surface:
    // graft_minhash_pairs FROM-callable must produce exactly the q16
    // verified pairs (the builder returns the Column API's logical plan;
    // this proves it end-to-end against the independent DuckDB replay of
    // the full shingle→minhash→band→verify chain).
    "q154_sql_minhash_pairs" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q154_docs")
      s.sql(
        "SELECT * FROM graft_minhash_pairs('graft_q154_docs', 'doc_id', " +
          "'text', 0.5) ORDER BY id_a, id_b")
    }),

    // Exact dedup through the SQL TVF surface: whole surviving rows
    // (first doc_id per normalized-text fingerprint), gated against the
    // DuckDB window replay.
    "q155_sql_exact_dedup" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q155_docs")
      s.sql(
        "SELECT doc_id, text, lang, source, n_chars FROM " +
          "graft_exact_dedup('graft_q155_docs', 'doc_id', 'text') " +
          "ORDER BY doc_id")
    }),

    // The event-analytics family through the SQL TVF surface (q152's
    // pattern: the builder returns the Column API's logical plan, the
    // oracle is the independent DuckDB replay — here q123's chained-min
    // funnel SQL verbatim).
    "q156_sql_funnel" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_id") < 3000)
        .createOrReplaceTempView("graft_q156_events")
      s.sql(
        "SELECT * FROM graft_funnel('graft_q156_events', 'event_type', " +
          "'ts', 'event_id', 'user_id', 'signup,click,purchase')")
    }),

    "q157_sql_cohort" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_id") % 7 === 0)
        .createOrReplaceTempView("graft_q157_events")
      s.sql(
        "SELECT * FROM graft_cohort_retention('graft_q157_events', " +
          "'ts', 'user_id') ORDER BY cohort_week, week_offset")
    }),

    "q158_sql_scd2" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      EventsStream.readEvents(s, s"$dir/events.parquet")
        .filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 10).cast("long").as("tier"))
        .createOrReplaceTempView("graft_q158_src")
      s.sql(
        "SELECT user_id, tier, valid_from, valid_to, version FROM " +
          "graft_scd2('graft_q158_src', 'user_id', 'ts', 'event_id', " +
          "'tier') ORDER BY user_id, version")
    }),

    // The retrieval family through the SQL TVF surface (VERDICT r15 #7):
    // graft_bm25_topk is q107's plan FROM-callable — distinct query set
    // and k so this oracle is its own replay, not a q107 copy.
    "q159_sql_bm25_topk" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q159_docs")
      s.sql(
        "SELECT CAST(query_id AS BIGINT) AS query_id, query_text " +
          "FROM VALUES (0, 'stream shuffle join'), " +
          "(1, 'parquet filter scan'), (2, 'window table merge') " +
          "AS v(query_id, query_text)")
        .createOrReplaceTempView("graft_q159_queries")
      s.sql(
        "SELECT * FROM graft_bm25_topk('graft_q159_docs', 'doc_id', " +
          "'text', 'graft_q159_queries', 'query_id', 'query_text', 5) " +
          "ORDER BY query_id, rank")
    }),

    // graft_rrf_fuse over two SQL-built ranking views (a modular-hash
    // ranker and a length-prior ranker — both independently replayable),
    // so the oracle exercises the fusion TVF end-to-end without
    // duplicating q121's full hybrid chain.
    "q160_sql_rrf_fuse" -> ((s, dir) => {
      graft.functions.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_q160_docs")
      s.sql(
        """SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (d.doc_id * 37 + q.query_id * 11) % 101, d.doc_id)
               AS rank
             FROM (SELECT doc_id FROM graft_q160_docs WHERE doc_id < 400) d
             CROSS JOIN (SELECT CAST(query_id AS BIGINT) AS query_id
               FROM VALUES (0), (1), (2) AS v(query_id)) q)
           WHERE rank <= 15""")
        .createOrReplaceTempView("graft_q160_a")
      s.sql(
        """SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rank
             FROM (SELECT doc_id, n_chars FROM graft_q160_docs
                   WHERE doc_id < 400) d
             CROSS JOIN (SELECT CAST(query_id AS BIGINT) AS query_id
               FROM VALUES (0), (1), (2) AS v(query_id)) q)
           WHERE rank <= 15""")
        .createOrReplaceTempView("graft_q160_b")
      s.sql(
        "SELECT * FROM graft_rrf_fuse('graft_q160_a', 'ka', " +
          "'graft_q160_b', 'kb', 'doc_id', 10) ORDER BY query_id, rank")
    }))

  /** Deterministic messy-URL fixture expression (Spark SQL) for
    * q142/q143: five raw-URL shapes keyed on doc_id % 5, each stressing
    * different canonicalization rules. The DuckDB oracle builds the
    * SAME strings from the same columns.
    */
  private val messyUrlSpark =
    """CASE cast(doc_id % 5 AS int)
       WHEN 0 THEN concat('HTTP://WWW.', source, '.Example.COM:80/Docs/',
         cast(doc_id AS string), '/?utm_source=feed&b=2&a=1#frag')
       WHEN 1 THEN concat('https://u:p@', source, '.example.com:443/docs/',
         cast(doc_id AS string))
       WHEN 2 THEN concat('https://cdn.example.com/', source, '/Page///?gclid=',
         cast(doc_id AS string))
       WHEN 3 THEN concat('http://www.', source,
         '.example.com:8080/path?ref=tw&z=9&y=8')
       ELSE concat('  https://', source, '.example.com./docs?fbclid=1&Q=',
         cast(doc_id AS string), '  ')
       END"""

  // ---- DuckDB oracles ----

  /** DuckDB token list matching TextFunctions.tokens. */
  private val toks =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)"""

  /** q119/q133's fixed 6-merge BPE table replayed as sentinel-char string
    * replaces (string replace IS the non-overlapping greedy symbol rewrite
    * when every symbol is one char), then decoded back to symbol lists. */
  private val bpeSentinelEnc =
    """replace(replace(replace(replace(replace(replace(
                     w || chr(1),
                     'th', chr(2)),
                     chr(2) || 'e', chr(3)),
                     chr(3) || chr(1), chr(4)),
                     'a' || chr(1), chr(5)),
                     'st', chr(6)),
                     'ea', chr(7))"""

  private val bpeSentinelDecode =
    s"""list_transform(range(1, len($bpeSentinelEnc) + 1), i ->
                     CASE substr($bpeSentinelEnc, i, 1)
                       WHEN chr(1) THEN '</w>'
                       WHEN chr(2) THEN 'th'
                       WHEN chr(3) THEN 'the'
                       WHEN chr(4) THEN 'the</w>'
                       WHEN chr(5) THEN 'a</w>'
                       WHEN chr(6) THEN 'st'
                       WHEN chr(7) THEN 'ea'
                       ELSE substr($bpeSentinelEnc, i, 1) END)"""

  /** The exact seeded hyperplanes q21 buckets with (dim 64, seed 42),
    * rendered as DuckDB VALUES rows of (plane index, DOUBLE[] literal) —
    * Double.toString round-trips bit-exactly through DuckDB's parser.
    * All 16 possible planes are emitted; because seeded hyperplanes for a
    * smaller bit count are a prefix of those for a larger one, the oracle
    * filters to `pi < nbits` with nbits computed from the corpus count by
    * the same integer formula as [[Similarity.lshBitsFor]].
    */
  private val lshPlaneValues: String =
    Similarity.hyperplanes(dim = 64, bits = 16, seed = 42L).zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[])" }
      .mkString(",\n           ")

  /** Shared oracle CTE chain for the MinHash+LSH path (q16 pairs, q51
    * clusters): shingles → 8-hash md5-min signature → 4-band bucketing →
    * candidate pairs → exact-Jaccard verification.
    */
  /** Shared oracle CTE prefix reproducing the MinHash banding (t → shingle
    * sets → 8-hash signatures → 4 band buckets); [[minhashVerifiedCtes]]
    * appends the self-join candidates + Jaccard verification, q78 appends
    * the cross-corpus candidate restriction instead.
    */
  private lazy val minhashBandedCtes: String = minhashBandedCtesFrom("documents")

  /** [[minhashBandedCtes]] over an arbitrary source relation carrying
    * (doc_id, text) — q120 bands an updated snapshot CTE instead of the
    * base table.
    */
  private def minhashBandedCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id, $toks AS tk FROM $src),
         s AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(tk) - 3 + 2),
                   i -> array_to_string(tk[i:i+2], ' '))) AS sh
               FROM t WHERE len(tk) >= 3),
         sig AS (SELECT doc_id, sh,
             [list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('4:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('5:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('6:' || x)), 'min'),
              list_aggregate(list_transform(sh, x -> md5('7:' || x)), 'min')] AS sg
           FROM s),
         banded AS (
           SELECT doc_id, sh, b.band,
                  sg[b.band * 2 + 1] || '|' || sg[b.band * 2 + 2] AS band_sig
           FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b)"""

  private lazy val minhashVerifiedCtes: String =
    s"""$minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
         verified AS (
           SELECT c.id_a, c.id_b,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.id_a
           JOIN s sb ON sb.doc_id = c.id_b)"""

  /** Shared oracle CTE chain reproducing the deterministic IVF index build
    * (q20 probe / q47 cell pairs): hash-sampled centroids at nlist=32
    * ([[graft.ops.Similarity.sampleThreshold]] arithmetic), per-vector norms,
    * nearest-centroid assignment with ties by centroid_id.
    */
  private val ivfAssignCtes: String =
    """c AS (SELECT vec_id AS centroid_id, embedding AS cvec,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cn
           FROM embeddings
           WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 3) <
             (SELECT lpad(to_hex(CAST(least(4095, greatest(1,
                round(32 * 4096.0 / count(*)))) AS BIGINT)), 3, '0')
              FROM embeddings)),
         v AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         scored AS (
           SELECT v.vec_id, v.embedding, v.vn, c.centroid_id,
             CASE WHEN v.vn * c.cn > 0 THEN
               list_sum(list_transform(range(1, len(v.embedding) + 1),
                 i -> CAST(v.embedding[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) / (v.vn * c.cn)
             ELSE 0.0 END AS sim
           FROM v CROSS JOIN c),
         assigned AS (
           SELECT vec_id, embedding, vn, centroid_id
           FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
                   ORDER BY sim DESC, centroid_id) AS r FROM scored)
           WHERE r = 1)"""

  /** Shared oracle CTE chain for the hom-path genomics fixture: candidate
    * haplotypes (U1 semantics), unambiguous calls, genotype pivot,
    * phenotype join, and the rule tables.
    */
  private val fixtureCallChain =
    s"""WITH ghv(gene_name, haplotype_name, snp_id, allele) AS (VALUES $fixtureGhvValues),
       var(patient_id, physical_chromosome, snp_id, allele) AS (VALUES $fixtureVariantValues),
       gene_snp AS (SELECT DISTINCT gene_name, snp_id FROM ghv),
       pv AS (SELECT DISTINCT patient_id, physical_chromosome FROM var JOIN gene_snp USING (snp_id)),
       cand AS (
         SELECT v.patient_id, v.physical_chromosome, h.haplotype_name
         FROM (SELECT DISTINCT haplotype_name FROM ghv) h CROSS JOIN pv v
         WHERE NOT EXISTS (
           SELECT 1 FROM var JOIN gene_snp USING (snp_id)
           WHERE var.patient_id = v.patient_id
             AND var.physical_chromosome = v.physical_chromosome
             AND NOT EXISTS (
               SELECT 1 FROM ghv
               WHERE ghv.haplotype_name = h.haplotype_name
                 AND ghv.snp_id = var.snp_id AND ghv.allele = var.allele))),
       gh AS (
         SELECT patient_id, physical_chromosome, 'g1' AS gene_name,
                min(haplotype_name) AS haplotype_name
         FROM cand GROUP BY patient_id, physical_chromosome HAVING count(*) = 1),
       gt AS (
         SELECT patient_id, gene_name,
                max(CASE WHEN rn = 1 THEN haplotype_name END) AS haplotype_name1,
                max(CASE WHEN rn = 2 THEN haplotype_name END) AS haplotype_name2
         FROM (SELECT gh.*,
                 row_number() OVER (PARTITION BY patient_id, gene_name
                   ORDER BY haplotype_name, physical_chromosome) AS rn,
                 count(*) OVER (PARTITION BY patient_id, gene_name) AS cnt
               FROM gh) t
         WHERE cnt <= 2 GROUP BY patient_id, gene_name),
       gtp(gene_name, haplotype_name1, haplotype_name2, phenotype_name) AS
         (VALUES ('g1', '*1', '*1', 'homozygote normal'),
                 ('g1', '*2', '*2', 'nonfunctional'),
                 ('g1', '*1', '*3', 'mixed function'),
                 ('g1', '*3', '*5', 'poor combo'),
                 ('g1', '*1', '*4', 'rapid combo')),
       gp AS (
         SELECT gt.patient_id, gt.gene_name, gtp.phenotype_name
         FROM gt JOIN gtp USING (gene_name, haplotype_name1, haplotype_name2)),
       gpdr(gene_name, phenotype_name, drug_recommendation_id) AS
         (VALUES ('g1', 'homozygote normal', CAST(1 AS BIGINT)),
                 ('g1', 'nonfunctional', CAST(2 AS BIGINT)),
                 ('g1', 'mixed function', CAST(3 AS BIGINT)),
                 ('g1', 'poor combo', CAST(4 AS BIGINT)),
                 ('g1', 'rapid combo', CAST(5 AS BIGINT)))"""

  def oracleSql: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q02_containment_subset" ->
      """WITH a AS (SELECT r_name, n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey),
         b AS (SELECT DISTINCT c_mktsegment, c_nationkey AS n_nationkey FROM customer),
         inter AS (
           SELECT a.r_name, b.c_mktsegment, count(*) AS gc
           FROM b JOIN a USING (n_nationkey)
           GROUP BY a.r_name, b.c_mktsegment),
         sz AS (SELECT r_name, count(*) AS sa FROM a GROUP BY r_name)
         SELECT DISTINCT r_name, c_mktsegment
         FROM inter JOIN sz USING (r_name) WHERE gc = sa
         ORDER BY r_name, c_mktsegment""",

    "q03_containment_either" ->
      """WITH a AS (SELECT r_name, n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey),
         b AS (SELECT DISTINCT c_mktsegment, c_nationkey AS n_nationkey FROM customer WHERE c_acctbal > 0),
         inter AS (
           SELECT a.r_name, b.c_mktsegment, count(*) AS gc
           FROM b JOIN a USING (n_nationkey)
           GROUP BY a.r_name, b.c_mktsegment),
         sza AS (SELECT r_name, count(*) AS sa FROM a GROUP BY r_name),
         szb AS (SELECT c_mktsegment, count(*) AS sb FROM b GROUP BY c_mktsegment)
         SELECT DISTINCT r_name, c_mktsegment
         FROM inter JOIN sza USING (r_name) JOIN szb USING (c_mktsegment)
         WHERE gc = least(sa, sb)
         ORDER BY r_name, c_mktsegment""",

    "q04_pivot_pairs" ->
      """WITH r AS (
           SELECT l_orderkey, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn,
                  count(*) OVER (PARTITION BY l_orderkey) AS cnt
           FROM lineitem)
         SELECT l_orderkey,
                max(CASE WHEN rn = 1 THEN l_partkey END) AS part1,
                max(CASE WHEN rn = 2 THEN l_partkey END) AS part2
         FROM r WHERE cnt <= 2 GROUP BY l_orderkey
         ORDER BY l_orderkey""",

    "q05_upsert_discard" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_acctbal FROM customer
         WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0
         ORDER BY c_custkey""",

    "q06_nodup_blank" ->
      """WITH r AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS r1,
                  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS r2
           FROM orders)
         SELECT o_orderkey,
                CASE WHEN r1 = 1 THEN o_custkey END AS o_custkey,
                CASE WHEN r1 = 1 OR r2 = 1 THEN o_orderstatus END AS o_orderstatus,
                CASE WHEN r2 = 1 THEN o_orderpriority END AS o_orderpriority
         FROM r ORDER BY o_orderkey""",

    "q07_variant_explode" ->
      """WITH raw AS (
           SELECT 'p' || CAST(p_partkey % 10 AS VARCHAR) AS patient_id,
                  'snp' || CAST(p_partkey AS VARCHAR) AS snp_id,
                  substr(p_name, 1, CAST(p_partkey % 4 AS INTEGER)) AS a
           FROM part)
         SELECT patient_id, CAST(NULL AS VARCHAR) AS physical_chromosome, snp_id,
                substr(a, 1, 1) AS allele, 'het' AS zygosity FROM raw WHERE len(a) = 2
         UNION ALL
         SELECT patient_id, CAST(NULL AS VARCHAR), snp_id, substr(a, 2, 1), 'het' FROM raw WHERE len(a) = 2
         UNION ALL
         SELECT patient_id, 'A', snp_id, a, 'hom' FROM raw WHERE len(a) = 1 OR len(a) >= 3
         UNION ALL
         SELECT patient_id, 'B', snp_id, a, 'hom' FROM raw WHERE len(a) = 1 OR len(a) >= 3
         UNION ALL
         SELECT patient_id, CAST(NULL AS VARCHAR), snp_id, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM raw WHERE len(a) = 0
         ORDER BY patient_id, snp_id, physical_chromosome, allele""",

    "q08_hom_gene_haplotype" ->
      s"""WITH ghv(gene_name, haplotype_name, snp_id, allele) AS (VALUES $fixtureGhvValues),
         var(patient_id, physical_chromosome, snp_id, allele) AS (VALUES $fixtureVariantValues),
         gene_snp AS (SELECT DISTINCT gene_name, snp_id FROM ghv),
         pv AS (SELECT DISTINCT patient_id, physical_chromosome FROM var JOIN gene_snp USING (snp_id)),
         cand AS (
           SELECT v.patient_id, v.physical_chromosome, h.haplotype_name
           FROM (SELECT DISTINCT haplotype_name FROM ghv) h CROSS JOIN pv v
           WHERE NOT EXISTS (
             SELECT 1 FROM var JOIN gene_snp USING (snp_id)
             WHERE var.patient_id = v.patient_id
               AND var.physical_chromosome = v.physical_chromosome
               AND NOT EXISTS (
                 SELECT 1 FROM ghv
                 WHERE ghv.haplotype_name = h.haplotype_name
                   AND ghv.snp_id = var.snp_id AND ghv.allele = var.allele)))
         SELECT patient_id, physical_chromosome, 'g1' AS gene_name,
                min(haplotype_name) AS haplotype_name
         FROM cand GROUP BY patient_id, physical_chromosome HAVING count(*) = 1
         ORDER BY patient_id, physical_chromosome""",

    "q09_hom_novel_haplotype" ->
      s"""WITH ghv(gene_name, haplotype_name, snp_id, allele) AS (VALUES $fixtureGhvValues),
         var(patient_id, physical_chromosome, snp_id, allele) AS (VALUES $fixtureVariantValues),
         gene_snp AS (SELECT DISTINCT gene_name, snp_id FROM ghv),
         pv AS (SELECT DISTINCT patient_id, physical_chromosome FROM var JOIN gene_snp USING (snp_id)),
         cand AS (
           SELECT v.patient_id, v.physical_chromosome, h.haplotype_name
           FROM (SELECT DISTINCT haplotype_name FROM ghv) h CROSS JOIN pv v
           WHERE NOT EXISTS (
             SELECT 1 FROM var JOIN gene_snp USING (snp_id)
             WHERE var.patient_id = v.patient_id
               AND var.physical_chromosome = v.physical_chromosome
               AND NOT EXISTS (
                 SELECT 1 FROM ghv
                 WHERE ghv.haplotype_name = h.haplotype_name
                   AND ghv.snp_id = var.snp_id AND ghv.allele = var.allele)))
         SELECT patient_id, physical_chromosome, 'g1' AS gene_name
         FROM pv
         WHERE NOT EXISTS (
           SELECT 1 FROM cand c
           WHERE c.patient_id = pv.patient_id
             AND c.physical_chromosome = pv.physical_chromosome)
         ORDER BY patient_id, physical_chromosome""",

    "q26_hom_genotype" ->
      s"""$fixtureCallChain
         SELECT patient_id, gene_name, haplotype_name1, haplotype_name2
         FROM gt ORDER BY patient_id""",

    "q27_hom_gene_phenotype" ->
      s"""$fixtureCallChain
         SELECT patient_id, gene_name, phenotype_name
         FROM gp ORDER BY patient_id""",

    "q28_hom_phenotype_recommendation" ->
      s"""$fixtureCallChain,
         inter AS (
           SELECT gpdr.drug_recommendation_id, gp.patient_id, count(*) AS gc
           FROM gp JOIN gpdr USING (gene_name, phenotype_name)
           GROUP BY gpdr.drug_recommendation_id, gp.patient_id),
         sz AS (
           SELECT drug_recommendation_id, count(*) AS sa
           FROM gpdr GROUP BY drug_recommendation_id)
         SELECT DISTINCT patient_id, drug_recommendation_id
         FROM inter JOIN sz USING (drug_recommendation_id)
         WHERE gc = sa ORDER BY patient_id""",

    "q10_token_stats" ->
      s"""SELECT doc_id,
         CAST(len($toks) AS BIGINT) AS n_tokens,
         CAST(list_sum(list_transform($toks, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_bpe_tokens
         FROM documents ORDER BY doc_id""",

    "q11_quality" ->
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS swr,
             CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END AS pr,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS mwl
           FROM base)
         SELECT doc_id, round(swr, 6) AS stopword_ratio, round(pr, 6) AS punct_ratio,
           round((least(ntok / 64.0, 1.0) + least(swr * 4.0, 1.0) +
                  greatest(0.0, 1.0 - pr * 4.0) +
                  CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 4.0, 6) AS quality
         FROM m ORDER BY doc_id""",

    "q12_langid" ->
      s"""WITH t AS (SELECT doc_id, list_distinct($toks) AS tk FROM documents),
         sc AS (SELECT doc_id,
             len(list_intersect(tk, ['der','die','das','und','ist','nicht','mit','ein','von','zu'])) AS s_de,
             len(list_intersect(tk, ['the','and','of','to','in','is','that','with','for','was'])) AS s_en,
             len(list_intersect(tk, ['el','la','de','que','los','una','por','con','para','es'])) AS s_es,
             len(list_intersect(tk, ['le','la','les','des','est','une','dans','pour','que','sur'])) AS s_fr
           FROM t)
         SELECT doc_id,
           CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
                WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
                WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
                ELSE 'fr' END AS lang_pred
         FROM sc ORDER BY doc_id""",

    "q13_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",

    "q14_exact_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY fingerprint""",

    "q15_minhash_sig" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         s AS (SELECT doc_id,
                 list_distinct(list_transform(range(1, len(tk) - 3 + 2),
                   i -> array_to_string(tk[i:i+2], ' '))) AS sh
               FROM t WHERE len(tk) >= 3)
         SELECT doc_id,
           list_aggregate(list_transform(sh, x -> md5('0:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('1:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('2:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('3:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('4:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('5:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('6:' || x)), 'min') || '|' ||
           list_aggregate(list_transform(sh, x -> md5('7:' || x)), 'min') AS sig
         FROM s ORDER BY doc_id""",

    "q16_minhash_pairs" ->
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b""",

    // q16's verified pairs → connected components, as a DuckDB recursive
    // closure (reach = all nodes reachable from id; cluster = min reached).
    "q51_dup_clusters" ->
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
         ORDER BY id""",

    // Per-query exact top-k: selection by unrounded sim (ties by vec_id),
    // presented rounded; rank is the per-query row_number.
    "q53_knn_join" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         s AS (
           SELECT q.query_id, e.vec_id,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (e.vn * q.qn)
             ELSE 0.0 END AS sim
           FROM e CROSS JOIN q),
         r AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // IVF k-NN join reproduction: same index CTEs as q20, per-query
    // top-nprobe routing (ties by centroid_id), candidate dedupe by
    // (query, vector) max, per-query row_number ranking by unrounded sim
    // with ties by vec_id — identical arithmetic to topKJoinIvf.
    "q72_ivf_knn_join" ->
      s"""WITH $ivfAssignCtes,
         qs AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         routed AS (
           SELECT query_id, qv, qn, centroid_id FROM (
             SELECT qs.query_id, qs.qv, qs.qn, c.centroid_id,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 (CASE WHEN qs.qn * c.cn > 0 THEN
                    list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qs.qv[i] AS DOUBLE))) / (qs.qn * c.cn)
                  ELSE 0.0 END) DESC, c.centroid_id) AS r
             FROM qs CROSS JOIN c)
           WHERE r <= 4),
         cand AS (
           SELECT rt.query_id, a.vec_id,
             max(CASE WHEN rt.qn * a.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(rt.qv[i] AS DOUBLE))) / (rt.qn * a.vn)
             ELSE 0.0 END) AS sim
           FROM assigned a JOIN routed rt USING (centroid_id)
           GROUP BY rt.query_id, a.vec_id),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
           FROM cand)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank""",

    // Semantic dedup reproduction: q47's cell-bounded cosine pairs feed
    // the q51 recursive closure; kept vectors are the non-dropped ids.
    "q73_semantic_dedup_keep" ->
      s"""WITH RECURSIVE $ivfAssignCtes,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b
           FROM assigned a JOIN assigned b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
           WHERE (CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END) >= 0.3),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT vec_id FROM embeddings
         WHERE vec_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         ORDER BY vec_id""",

    // Every signal re-derived (q11's row-local formulas + q59's repetition
    // CTEs), then the same first-failed-rule when-chain.
    "q74_quality_filter" ->
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END, 6) AS punct_ratio,
             round(CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS stopword_ratio
           FROM base),
         segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM base WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id),
         rep AS (
           SELECT d.doc_id,
                  CASE WHEN coalesce(s.n_segments, 0) > 0
                       THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                       ELSE 0.0 END AS dup_segment_frac,
                  CASE WHEN coalesce(b.n_bigrams, 0) > 0
                       THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                       ELSE 0.0 END AS top_bigram_frac
           FROM documents d
           LEFT JOIN segstats s USING (doc_id)
           LEFT JOIN bgstats b USING (doc_id)),
         f AS (
           SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.punct_ratio,
                  m.stopword_ratio, rep.dup_segment_frac, rep.top_bigram_frac,
                  CASE WHEN m.n_tokens < 16 THEN 'too_few_tokens'
                       WHEN m.n_tokens > 100000 THEN 'too_many_tokens'
                       WHEN m.mean_word_len < 2.0 OR m.mean_word_len > 12.0 THEN 'word_length'
                       WHEN m.punct_ratio > 0.25 THEN 'punctuation'
                       WHEN m.stopword_ratio < 0.01 THEN 'stopwords'
                       WHEN rep.dup_segment_frac > 0.30 THEN 'repeated_segments'
                       WHEN rep.top_bigram_frac > 0.18 THEN 'repeated_bigrams'
                       ELSE NULL END AS reason
           FROM m JOIN rep USING (doc_id))
         SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
                dup_segment_frac, top_bigram_frac, reason,
                reason IS NULL AS keep
         FROM f ORDER BY doc_id""",

    // Same integer-exact cut arithmetic: floor(budget*weight*4096/tokens)
    // in 4096ths, md5-prefix compare, keep-whole when cut >= 4096.
    "q75_token_budget_mix" ->
      """WITH tot AS (
           SELECT source, CAST(sum(n_chars) AS DOUBLE) AS st
           FROM documents GROUP BY source),
         w AS (SELECT * FROM (VALUES ('src0', 0.4), ('src1', 0.3),
             ('src2', 0.2), ('src3', 0.1), ('src4', 5.0)) AS t(source, wt)),
         c AS (
           SELECT tot.source,
                  greatest(CAST(floor(8000.0 * w.wt * 4096.0 / tot.st) AS BIGINT), 1) AS cut
           FROM tot JOIN w USING (source))
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN c USING (source)
         WHERE cut >= 4096
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3) < lpad(lower(to_hex(cut)), 3, '0')
         ORDER BY d.doc_id""",

    // Same salted-md5 bucket + within-shard rank arithmetic.
    "q76_shuffled_shards" ->
      """WITH h AS (
           SELECT doc_id, lang,
                  md5('7:' || CAST(doc_id AS VARCHAR)) AS hh
           FROM documents),
         s AS (
           SELECT doc_id, lang, hh,
                  CAST(CAST(concat('0x', substr(hh, 1, 8)) AS BIGINT) % 8
                    AS INTEGER) AS shard
           FROM h)
         SELECT doc_id, lang, shard,
                CAST(row_number() OVER (PARTITION BY shard ORDER BY hh, doc_id)
                  AS INTEGER) AS shard_pos
         FROM s ORDER BY shard, shard_pos""",

    // The full chain: q74's signal/when-chain CTEs -> kept docs -> q75's
    // budget-cut arithmetic over the KEPT totals -> q58's packing spans.
    "q77_training_mix" ->
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END, 6) AS punct_ratio,
             round(CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS stopword_ratio
           FROM base),
         segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM base WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id),
         rep AS (
           SELECT d.doc_id,
                  CASE WHEN coalesce(s.n_segments, 0) > 0
                       THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                       ELSE 0.0 END AS dup_segment_frac,
                  CASE WHEN coalesce(b.n_bigrams, 0) > 0
                       THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                       ELSE 0.0 END AS top_bigram_frac
           FROM documents d
           LEFT JOIN segstats s USING (doc_id)
           LEFT JOIN bgstats b USING (doc_id)),
         f AS (
           SELECT m.doc_id, m.n_tokens,
                  CASE WHEN m.n_tokens < 16 THEN 'too_few_tokens'
                       WHEN m.n_tokens > 100000 THEN 'too_many_tokens'
                       WHEN m.mean_word_len < 2.0 OR m.mean_word_len > 12.0 THEN 'word_length'
                       WHEN m.punct_ratio > 0.25 THEN 'punctuation'
                       WHEN rep.dup_segment_frac > 0.95 THEN 'repeated_segments'
                       WHEN rep.top_bigram_frac > 0.18 THEN 'repeated_bigrams'
                       ELSE NULL END AS reason
           FROM m JOIN rep USING (doc_id)),
         kept AS (
           SELECT f.doc_id, d.source, f.n_tokens
           FROM f JOIN documents d USING (doc_id)
           WHERE f.reason IS NULL),
         tot AS (
           SELECT source, CAST(sum(n_tokens) AS DOUBLE) AS st
           FROM kept GROUP BY source),
         w AS (SELECT * FROM (VALUES ('src0', 0.25), ('src1', 0.25),
             ('src2', 0.25), ('src3', 0.25)) AS t(source, wt)),
         c AS (
           SELECT tot.source,
                  greatest(CAST(floor(800.0 * w.wt * 4096.0 / tot.st) AS BIGINT), 1) AS cut
           FROM tot JOIN w USING (source)),
         mixed AS (
           SELECT k.source, k.doc_id, k.n_tokens AS n
           FROM kept k JOIN c USING (source)
           WHERE cut >= 4096
              OR substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 3) < lpad(lower(to_hex(cut)), 3, '0')),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM mixed),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id""",

    // q11's quality CTEs -> per-source row_number on (rounded quality DESC,
    // doc_id) — the bounded top-k aggregate must equal the rank window.
    "q79_top_per_group" ->
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS swr,
             CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END AS pr,
             CAST(len(tk) AS DOUBLE) AS ntok,
             CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END AS mwl
           FROM base),
         q AS (
           SELECT doc_id,
             round((least(ntok / 64.0, 1.0) + least(swr * 4.0, 1.0) +
                    greatest(0.0, 1.0 - pr * 4.0) +
                    CASE WHEN mwl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) / 4.0, 6) AS quality
           FROM m),
         r AS (
           SELECT q.doc_id, d.source, q.quality,
             row_number() OVER (PARTITION BY d.source
               ORDER BY q.quality DESC, q.doc_id) AS rank
           FROM q JOIN documents d USING (doc_id))
         SELECT doc_id, source, quality, CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 3
         ORDER BY source, rank""",

    "q85_assemble_sequences" ->
      """SELECT user_id, count(*) AS n_items,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
         FROM events GROUP BY user_id ORDER BY user_id""",

    // Stream ≡ batch: the merge-sink render equals q85's batch assembly.
    "q88_streaming_assembly" ->
      """SELECT user_id, count(*) AS n_items,
                string_agg(event_type, '>' ORDER BY ts, event_id) AS sequence
         FROM events GROUP BY user_id ORDER BY user_id""",

    // q16's verified pairs × q68's split assignment, cross-split only.
    "q87_split_leakage" ->
      s"""WITH $minhashVerifiedCtes,
         sp AS (
           SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
           FROM documents)
         SELECT v.id_a, v.id_b, round(v.jaccard, 6) AS jaccard,
                sa.split AS split_a, sb.split AS split_b
         FROM verified v
         JOIN sp sa ON sa.doc_id = v.id_a
         JOIN sp sb ON sb.doc_id = v.id_b
         WHERE v.jaccard >= 0.5 AND sa.split <> sb.split
         ORDER BY v.id_a, v.id_b""",

    "q86_unigram_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         pdt AS (SELECT doc_id, tok, count(*) AS nd FROM tok GROUP BY doc_id, tok),
         vocab AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
         tot AS (SELECT sum(c) AS total FROM vocab),
         j AS (SELECT p.doc_id, p.tok, p.nd, v.c
               FROM pdt p JOIN vocab v USING (tok)),
         agg AS (SELECT doc_id, sum(nd) AS n_tokens,
                   list_sort(list(struct_pack(tok := tok, nd := nd, c := c))) AS tc
                 FROM j GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                round(-list_sum(list_transform(a.tc,
                  x -> x.nd * log2(CAST(x.c AS DOUBLE) / total)))
                  / a.n_tokens, 6) AS bits_per_token
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id, tot
         ORDER BY d.doc_id""",

    "q83_bpe_pair_counts" ->
      s"""WITH w AS (
           SELECT unnest($toks) AS w FROM documents),
         p AS (
           SELECT unnest(list_transform(range(1, len(w)),
             i -> w[i:i+1])) AS pair
           FROM w WHERE len(w) >= 2)
         SELECT pair, count(*) AS n FROM p GROUP BY pair
         ORDER BY n DESC, pair LIMIT 50""",

    // Entropy folded over the gram-sorted (g, c) list: both engines add
    // identical terms in identical order, so round(…, 6) is reproducible.
    "q84_char_entropy" ->
      """WITH g AS (
           SELECT doc_id, unnest(list_transform(range(1, len(lower(text))),
             i -> lower(text)[i:i+1])) AS g
           FROM documents WHERE len(text) >= 2),
         c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g),
         gc AS (SELECT doc_id, sum(c) AS n,
                  list_sort(list(struct_pack(g := g, c := c))) AS gc
                FROM c GROUP BY doc_id)
         SELECT d.doc_id, CAST(coalesce(gc.n, 0) AS BIGINT) AS n,
                round(log2(gc.n) - list_sum(list_transform(gc.gc,
                  x -> x.c * log2(x.c))) / gc.n, 6) AS bigram_entropy
         FROM documents d LEFT JOIN gc ON d.doc_id = gc.doc_id
         ORDER BY d.doc_id""",

    // Stream ≡ batch: the accumulated cell assignment equals the q20 build.
    "q82_streaming_ivf_ingest" ->
      s"""WITH $ivfAssignCtes
         SELECT vec_id, centroid_id FROM assigned ORDER BY vec_id""",

    // Stream ≡ batch: the streaming pair sink must equal q16's batch pairs.
    "q81_streaming_minhash" ->
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b""",

    // median/MAD are exact halves on the integer signal; the flag is the
    // integer-exact comparison 6745·|2v−2med| > 35000·2mad — no float ties.
    "q80_outlier_report" ->
      """WITH base AS (
           SELECT doc_id, source, CAST(len(text) AS DOUBLE) AS n_chars
           FROM documents),
         med AS (SELECT source, median(n_chars) AS med FROM base GROUP BY source),
         j AS (SELECT b.doc_id, b.source, b.n_chars, m.med
               FROM base b JOIN med m USING (source)),
         mad AS (SELECT source, median(abs(n_chars - med)) AS mad
                 FROM j GROUP BY source)
         SELECT j.doc_id, j.source, j.n_chars, j.med, mad.mad,
                CASE WHEN mad.mad > 0
                     THEN abs(CAST(2 * j.n_chars - 2 * j.med AS BIGINT)) * 6745
                          > CAST(2 * mad.mad AS BIGINT) * 35000
                     ELSE FALSE END AS is_outlier
         FROM j JOIN mad USING (source)
         ORDER BY doc_id""",

    // Cross-corpus reproduction: the same banding CTEs, with candidates
    // restricted to (odd crawl doc) × (even corpus doc) bucket collisions.
    // Banding is per-document, so banding the whole table then filtering
    // by parity is identical to banding each side separately.
    "q78_cross_corpus_dedup" ->
      s"""WITH $minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS ref_id
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig
           WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
         verified AS (
           SELECT c.corpus_id, c.ref_id,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.corpus_id
           JOIN s sb ON sb.doc_id = c.ref_id)
         SELECT corpus_id, ref_id, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY corpus_id, ref_id""",

    // Kept corpus = documents minus every clustered non-minimum (recursive
    // closure over the q16 verified pairs, as in q51).
    "q54_dedup_keep" ->
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
         SELECT doc_id, lang FROM documents
         WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> cluster_id)
         ORDER BY doc_id""",

    "q50_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE CASE
           WHEN lang = 'en' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '800'
           WHEN lang = 'de' THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '400'
           ELSE TRUE END
         ORDER BY doc_id""",

    "q52_weighted_repeat" ->
      """WITH w AS (
           SELECT doc_id, lang,
             CASE WHEN lang = 'de' THEN 3 WHEN lang = 'fr' THEN 2 ELSE 1 END AS n
           FROM documents)
         SELECT doc_id, lang, unnest(generate_series(1, n)) AS copy
         FROM w ORDER BY doc_id, copy""",

    "q17_ngram_jaccard" ->
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(nt) - 8 + 2),
               i -> substr(nt, CAST(i AS INTEGER), 8))) AS gram
             FROM norm WHERE len(nt) >= 8)),
         pruned AS (
           SELECT g.doc_id, g.gram FROM grams g
           JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
           WHERE d.df <= 100),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM pruned GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM pruned a JOIN pruned b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                round(CAST(c AS DOUBLE) / (sa.n_grams + sb.n_grams - c), 6) AS jaccard
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / (sa.n_grams + sb.n_grams - c) >= 0.6
         ORDER BY id_a, id_b""",

    // SimHash reproduction: bit b of a token's hash = bit (b%4) of hex digit
    // b/4 of md5(token); per-doc fold sums ±1 weighted by token frequency;
    // bit set when the sum is positive. Chunked (4×16-bit) candidate
    // pigeonhole, then true hamming ≤ 6. Tokenless docs hash to all-zero.
    "q18_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         tok AS (SELECT doc_id, tkn, count(*) AS w
                 FROM (SELECT doc_id, unnest(tk) AS tkn FROM t) GROUP BY doc_id, tkn),
         h AS (SELECT doc_id, w, substr(md5(tkn), 1, 16) AS hx FROM tok),
         bits AS (
           SELECT doc_id, b.b,
             sum(CASE WHEN ((strpos('0123456789abcdef', substr(h.hx, CAST(b.b // 4 AS INTEGER) + 1, 1)) - 1)
                            >> (b.b % 4)) & 1 = 1 THEN w ELSE -w END) AS s
           FROM h, (SELECT unnest(range(64)) AS b) b
           GROUP BY doc_id, b.b),
         sig0 AS (
           SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY b) AS bitstr
           FROM bits GROUP BY doc_id),
         sig AS (
           -- Tokenless-but-non-null docs hash to all-zero (matching Spark's
           -- empty-fold); NULL-text docs are excluded on both sides (Spark's
           -- SimHash64 null-propagates, so they never enter the join).
           SELECT d.doc_id, coalesce(sig0.bitstr, repeat('0', 64)) AS bitstr
           FROM documents d LEFT JOIN sig0 ON d.doc_id = sig0.doc_id
           WHERE d.text IS NOT NULL),
         chunked AS (
           SELECT doc_id, bitstr, c.c, substr(bitstr, CAST(c.c * 16 + 1 AS INTEGER), 16) AS chunk_val
           FROM sig, (SELECT unnest(range(4)) AS c) c),
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.bitstr AS ba, b.bitstr AS bb
           FROM chunked a JOIN chunked b
             ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id),
         ham AS (
           SELECT id_a, id_b,
             len(list_filter(range(1, 65),
               i -> substr(ba, CAST(i AS INTEGER), 1) <> substr(bb, CAST(i AS INTEGER), 1))) AS hamming
           FROM cand)
         SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
         FROM ham WHERE hamming <= 6
         ORDER BY id_a, id_b""",

    // Top-10 SELECTION is by unrounded sim (mirrors Spark's limit before the
    // rounded projection); the final presented ORDER is by the rounded value
    // so 4-decimal ties sort identically on both sides.
    "q19_topk_cosine" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         s AS (
           SELECT vec_id,
             list_sum(list_transform(range(1, len(embedding) + 1),
               i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE))) /
             (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
              sqrt(list_sum(list_transform(qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
           FROM embeddings, q),
         topk AS (
           SELECT vec_id, round(sim, 4) AS cosine_sim
           FROM s ORDER BY sim DESC, vec_id LIMIT 10)
         SELECT vec_id, cosine_sim FROM topk
         ORDER BY cosine_sim DESC, vec_id""",

    // Full IVF reproduction: same deterministic centroid sample (md5-prefix
    // threshold integer-derived from nlist=32 over the exact corpus count —
    // identical arithmetic to Similarity.sampleThreshold), same
    // nearest-centroid assignment (ties by centroid_id), same nprobe=4
    // probe, same top-10 selection by unrounded sim, final order by the
    // rounded value to match the Spark-side sort.
    "q20_ivf_topk" ->
      s"""WITH q AS (SELECT embedding AS qv,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id = 0),
         $ivfAssignCtes,
         probed AS (
           SELECT centroid_id
           FROM c, q
           ORDER BY (CASE WHEN q.qn * c.cn > 0 THEN
               list_sum(list_transform(range(1, len(c.cvec) + 1),
                 i -> CAST(c.cvec[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (q.qn * c.cn)
             ELSE 0.0 END) DESC, centroid_id
           LIMIT 4),
         topk AS (
           SELECT a.vec_id,
             CASE WHEN q.qn * a.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))) / (q.qn * a.vn)
             ELSE 0.0 END AS sim
           FROM assigned a JOIN probed USING (centroid_id), q
           ORDER BY sim DESC, a.vec_id
           LIMIT 10)
         SELECT vec_id, round(sim, 4) AS cosine_sim FROM topk
         ORDER BY round(sim, 4) DESC, vec_id""",

    // LSH reproduction: identical seeded hyperplanes as literals (16 —
    // enough for any verify-scale corpus; the prefix in use is selected by
    // nbits, computed from the corpus count with the same integer formula
    // as Similarity.lshBitsFor — smallest b in [4,24] with 2^b * 32 >= n);
    // bucket = OR of sign bits; in-bucket pairs verified by exact cosine
    // ≥ 0.3.
    "q21_lsh_embedding_pairs" ->
      s"""WITH planes(pi, pv) AS (VALUES
           $lshPlaneValues),
         nb AS (
           SELECT coalesce(min(b), 24) AS nbits
           FROM (SELECT unnest(range(4, 25)) AS b),
                (SELECT count(*) AS n FROM embeddings) c
           WHERE (CAST(1 AS BIGINT) << b) * 32 >= c.n),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         bk AS (
           SELECT e.vec_id,
             sum(CASE WHEN list_sum(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[i] AS DOUBLE) * p.pv[i])) >= 0
                 THEN (CAST(1 AS BIGINT) << p.pi) ELSE 0 END) AS bucket
           FROM e CROSS JOIN planes p, nb WHERE p.pi < nb.nbits
           GROUP BY e.vec_id),
         bck AS (SELECT e.vec_id, e.embedding, e.vn, bk.bucket
                 FROM e JOIN bk USING (vec_id)),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END AS cosine_sim
           FROM bck a JOIN bck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         SELECT DISTINCT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
         FROM pairs WHERE cosine_sim >= 0.3
         ORDER BY id_a, id_b""",

    "q55_stream_static_enrich" ->
      """SELECT event_id, user_id, event_type, c_mktsegment
         FROM events LEFT JOIN customer ON user_id = c_custkey
         ORDER BY event_id""",

    // Word-6-gram contamination of corpus docs (doc_id >= 25) against the
    // benchmark docs (doc_id < 25); distinct grams per document, as the
    // Spark side's array_distinct does.
    "q56_decontamination" ->
      s"""WITH corpus AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id >= 25),
         benchd AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 25),
         cg AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM corpus WHERE len(tk) >= 6)),
         bg AS (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM benchd WHERE len(tk) >= 6)),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM cg GROUP BY doc_id),
         m AS (
           SELECT doc_id, count(*) AS matched FROM cg
           JOIN bg USING (gram) GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(m.matched, 0) AS BIGINT) AS matched_grams,
                CAST(CASE WHEN coalesce(m.matched, 0) >= 1 THEN 1 ELSE 0 END
                  AS BIGINT) AS contaminated
         FROM documents d
         LEFT JOIN sizes s USING (doc_id)
         LEFT JOIN m USING (doc_id)
         WHERE d.doc_id >= 25
         ORDER BY doc_id""",

    // Segments (split on ' ') occurring in >= 400 distinct docs are
    // boilerplate; surviving segments rejoin in position order. Zipped
    // unnest pairs each segment with its 1-based position.
    "q57_strip_boilerplate" ->
      """WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id)
         SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
         FROM documents d LEFT JOIN clean c USING (doc_id)
         ORDER BY doc_id""",

    // Streaming ≡ batch: the q56 match count, contaminated docs only.
    "q61_streaming_contamination" ->
      s"""WITH corpus AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id >= 25),
         benchd AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 25),
         cg AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM corpus WHERE len(tk) >= 6)),
         bg AS (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM benchd WHERE len(tk) >= 6))
         SELECT doc_id, count(*) AS matched_grams
         FROM cg JOIN bg USING (gram)
         GROUP BY doc_id
         HAVING count(*) >= 1
         ORDER BY doc_id""",

    // The full composition re-derived in SQL: q57's clean -> q14-style
    // fingerprint dedup (min doc_id survives) -> q56's gram collision on
    // the CLEANED text vs the raw benchmark -> q58's per-shard packing.
    "q63_curation_pipeline" ->
      s"""WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id),
         cleaned AS (
           SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
           FROM documents d LEFT JOIN clean c USING (doc_id)),
         dedup AS (
           SELECT doc_id, text_clean FROM cleaned
           QUALIFY row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text_clean), '\\s+', ' ', 'g')))
             ORDER BY doc_id) = 1),
         corpus AS (
           SELECT doc_id,
                  list_filter(regexp_split_to_array(lower(text_clean), '\\s+'),
                    x -> len(x) > 0) AS tk
           FROM dedup WHERE doc_id >= 25),
         benchd AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 25),
         cg AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM corpus WHERE len(tk) >= 6)),
         bg AS (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM benchd WHERE len(tk) >= 6)),
         contaminated AS (
           SELECT DISTINCT doc_id FROM cg JOIN bg USING (gram)),
         survivors AS (
           SELECT c.doc_id, CAST(len(c.tk) AS BIGINT) AS n
           FROM corpus c
           WHERE c.doc_id NOT IN (SELECT doc_id FROM contaminated)),
         wsrc AS (
           SELECT d.source, s.doc_id, s.n
           FROM survivors s JOIN documents d USING (doc_id)),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM wsrc),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id""",

    "q71_mixture_report" ->
      s"""WITH per AS (
           SELECT source, lang, count(*) AS n_docs,
                  CAST(sum(len($toks)) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source, lang),
         tot AS (
           SELECT CAST(sum(n_docs) AS BIGINT) AS td,
                  CAST(sum(n_tokens) AS BIGINT) AS tt
           FROM per)
         SELECT source, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
                round(CAST(n_docs AS DOUBLE) / td, 6) AS doc_frac,
                round(CAST(n_tokens AS DOUBLE) / tt, 6) AS token_frac
         FROM per CROSS JOIN tot
         ORDER BY source, lang""",

    // Same tf/df/idf arithmetic; ln is IEEE-identical in both engines and
    // the product rounds to 6 decimals on both sides.
    "q70_tfidf_terms" ->
      s"""WITH terms AS (
           SELECT doc_id, token, count(*) AS tf FROM (
             SELECT doc_id, unnest($toks) AS token FROM documents)
           GROUP BY doc_id, token),
         dfreq AS (
           SELECT token, count(*) AS df FROM terms GROUP BY token),
         n AS (SELECT count(*) AS n FROM documents),
         scored AS (
           SELECT t.doc_id, t.token,
                  t.tf * ln(CAST(n.n + 1 AS DOUBLE) / (d.df + 1)) AS tfidf
           FROM terms t JOIN dfreq d USING (token) CROSS JOIN n)
         SELECT doc_id, token, round(tfidf, 6) AS tfidf,
                CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, token) AS BIGINT) AS rank
         FROM scored
         QUALIFY rank <= 3
         ORDER BY doc_id, rank""",

    // Stride positions via range(0, n, stride); chunk text is a token
    // slice, n_tokens the clamped remainder.
    "q69_chunk_documents" ->
      s"""WITH tk AS (
           SELECT doc_id, $toks AS tk FROM documents),
         starts AS (
           SELECT doc_id, tk, unnest(range(0, len(tk), 24)) AS s
           FROM tk WHERE len(tk) > 0)
         SELECT doc_id,
                CAST(s // 24 AS BIGINT) AS chunk_id,
                array_to_string(list_slice(tk, CAST(s + 1 AS INTEGER),
                  CAST(s + 32 AS INTEGER)), ' ') AS chunk_text,
                CAST(least(32, len(tk) - s) AS BIGINT) AS n_tokens
         FROM starts
         ORDER BY doc_id, chunk_id""",

    "q67_exact_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang FROM documents
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 50)
         ORDER BY doc_id""",

    // Cumulative md5-prefix cuts: 0.1 -> 410/4096 = 0x19a, 0.2 -> 820 =
    // 0x334 (same integer rounding as Sampling.assignSplit).
    "q68_split_assign" ->
      """SELECT doc_id,
                CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",

    "q66_corpus_stats" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(len($toks)) AS BIGINT) AS n_tokens,
                CAST(sum(list_sum(list_transform($toks,
                  w -> CAST(ceil(len(w) / 4.0) AS BIGINT)))) AS BIGINT) AS n_bpe_tokens,
                CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                  AS BIGINT) AS n_unique_docs
         FROM documents""",

    // First-occurrence filter by position; list_position finds the first
    // index of each segment, exactly as Spark's array_position does.
    "q65_dedupe_segments" ->
      """SELECT doc_id,
                array_to_string(
                  list_transform(
                    list_filter(range(1, len(parts) + 1),
                      i -> list_position(parts,
                             list_extract(parts, CAST(i AS INTEGER))) = i),
                    i -> list_extract(parts, CAST(i AS INTEGER))),
                  ' ') AS text_clean
         FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents)
         ORDER BY doc_id""",

    // q17's inverted-index chain with the overlap-coefficient metric.
    "q64_ngram_containment" ->
      """WITH norm AS (
           SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
           FROM documents),
         grams AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(nt) - 8 + 2),
               i -> substr(nt, CAST(i AS INTEGER), 8))) AS gram
             FROM norm WHERE len(nt) >= 8)),
         pruned AS (
           SELECT g.doc_id, g.gram FROM grams g
           JOIN (SELECT gram, count(*) AS df FROM grams GROUP BY gram) d USING (gram)
           WHERE d.df <= 100),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM pruned GROUP BY doc_id),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM pruned a JOIN pruned b ON a.gram = b.gram AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
         SELECT id_a, id_b,
                round(CAST(c AS DOUBLE) / least(sa.n_grams, sb.n_grams), 6) AS overlap
         FROM common
         JOIN sizes sa ON sa.doc_id = id_a
         JOIN sizes sb ON sb.doc_id = id_b
         WHERE CAST(c AS DOUBLE) / least(sa.n_grams, sb.n_grams) >= 0.8
         ORDER BY id_a, id_b""",

    "q62_vocabulary" ->
      s"""SELECT token, count(*) AS n_occurrences
         FROM (SELECT unnest($toks) AS token FROM documents)
         GROUP BY token
         ORDER BY n_occurrences DESC, token
         LIMIT 100""",

    // Segment stats on the raw split; bigram stats on lowercased tokens
    // (mirroring the Spark side's raw-segment / tokens() split).
    "q59_repetition_signals" ->
      s"""WITH segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         tk AS (SELECT doc_id, $toks AS tk FROM documents),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM tk WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id)
         SELECT d.doc_id,
                CAST(coalesce(s.n_segments, 0) AS BIGINT) AS n_segments,
                CAST(coalesce(s.n_distinct_segments, 0) AS BIGINT) AS n_distinct_segments,
                CASE WHEN coalesce(s.n_segments, 0) > 0
                     THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                     ELSE 0.0 END AS dup_segment_frac,
                CAST(coalesce(b.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                CAST(coalesce(b.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
                CASE WHEN coalesce(b.n_bigrams, 0) > 0
                     THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                     ELSE 0.0 END AS top_bigram_frac
         FROM documents d
         LEFT JOIN segstats s USING (doc_id)
         LEFT JOIN bgstats b USING (doc_id)
         ORDER BY doc_id""",

    // Same synthetic-PII append, then the identical three-step
    // regexp_replace chain (email -> IPv4 -> phone, 'g' flag).
    "q60_pii_redaction" ->
      """WITH withpii AS (
           SELECT doc_id,
                  text || ' contact: user' || CAST(doc_id AS VARCHAR)
                    || '@example.com ip 10.0.'
                    || CAST(doc_id % 256 AS VARCHAR)
                    || '.7 tel +1 (555) 010-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
           FROM documents)
         SELECT doc_id,
                regexp_replace(
                  regexp_replace(
                    regexp_replace(text,
                      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
                  '\+?[0-9][0-9 ()-]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
         FROM withpii
         ORDER BY doc_id""",

    // Per-shard prefix sums of token counts; a doc spanning [start, end)
    // lands in sequences start//64 .. (end-1)//64.
    "q58_pack_sequences" ->
      s"""WITH base AS (
           SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS n
           FROM documents),
         cum AS (
           SELECT source, doc_id, n,
                  CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS end_tok
           FROM base),
         spans AS (
           SELECT source, doc_id, end_tok - n AS start_tok, end_tok
           FROM cum WHERE n > 0)
         SELECT source, doc_id, start_tok, end_tok,
                unnest(range(start_tok // 64, (end_tok - 1) // 64 + 1)) AS seq_id
         FROM spans
         ORDER BY source, doc_id, seq_id""",

    "q22_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",

    "q23_sessions" ->
      """WITH m AS (
           SELECT user_id, ts, value,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events),
         s AS (
           SELECT user_id, ts, value,
                  sum(CASE WHEN prev_ts IS NULL
                           OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                           THEN 1 ELSE 0 END)
                    OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
           FROM m)
         SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                CAST(count(*) AS INTEGER) AS n_events, round(sum(value), 2) AS total_value
         FROM s GROUP BY user_id, session_seq
         ORDER BY user_id, session_start""",

    // Image rows: the Spark side decodes width/height from real container
    // header BYTES, audio rows sample rate / channels / PCM frames from a
    // real RIFF chunk walk; the oracle re-derives both from the fixture
    // generation rule (geometry and format are fixed functions of doc_id,
    // header length a per-format constant) — an incorrect header parse
    // cannot hash-match.
    "q24_media_features" ->
      """WITH m AS (
           SELECT doc_id AS media_id,
                  ['image','audio','video'][CAST(doc_id % 3 AS INTEGER) + 1] AS kind,
                  ['png','gif','bmp','jpg'][CAST((doc_id // 3) % 4 AS INTEGER) + 1] AS img_format,
                  [8000,16000,44100][CAST((doc_id // 3) % 3 AS INTEGER) + 1] AS wav_rate,
                  1 + (doc_id // 3) % 2 AS wav_channels,
                  CAST(octet_length(encode(text)) AS BIGINT) AS body_len
           FROM documents)
         SELECT media_id, kind,
                CASE kind WHEN 'image' THEN img_format
                          WHEN 'audio' THEN 'wav'
                          ELSE 'mp4' END AS format,
                CASE kind WHEN 'image'
                     THEN body_len + CASE img_format WHEN 'png' THEN 45
                                                     WHEN 'gif' THEN 13
                                                     WHEN 'bmp' THEN 54
                                                     ELSE 39 END
                          WHEN 'audio' THEN body_len + 44
                     ELSE body_len + 292 END AS byte_len,
                CASE kind WHEN 'audio' THEN 0
                     ELSE 16 + (media_id * 7919) % 1024 END AS width,
                CASE kind WHEN 'audio' THEN 0
                     ELSE 16 + (media_id * 104729) % 1024 END AS height,
                CASE kind WHEN 'video' THEN 1 + media_id % 300
                          WHEN 'audio' THEN body_len // (wav_channels * 2)
                     ELSE 1 END AS n_frames,
                CASE kind WHEN 'audio' THEN wav_rate ELSE 0 END AS sample_rate,
                CASE kind WHEN 'audio' THEN wav_channels ELSE 0 END AS channels
         FROM m ORDER BY media_id""",

    "q25_streaming_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
                count(*) AS n_events, round(sum(value), 2) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""",

    // Hand-derived golden (U2 semantics, not a SQL reformulation): h1's
    // single het splits arbitrarily with known sides on both strands
    // (AKnownBKnown, A = lesser sequence); h2's two hets admit two combos
    // ([A,A]/[G,G] then [A,G]/[G,A] in canonical order) — derived from
    // Algorithm.groovy:139-253 against the fixture matrix.
    "q29_het_variants" ->
      """SELECT * FROM (VALUES
           ('h1', 'A', 1, 1, 'rs1', 'A'),
           ('h1', 'B', 1, 1, 'rs1', 'C'),
           ('h2', 'A', 1, 2, 'rs1', 'A'),
           ('h2', 'A', 1, 2, 'rs2', 'A'),
           ('h2', 'B', 1, 2, 'rs1', 'G'),
           ('h2', 'B', 1, 2, 'rs2', 'G'),
           ('h2', 'A', 2, 2, 'rs1', 'A'),
           ('h2', 'A', 2, 2, 'rs2', 'G'),
           ('h2', 'B', 2, 2, 'rs1', 'G'),
           ('h2', 'B', 2, 2, 'rs2', 'A'),
           ('x1', 'A', 1, 1, 'rs1', 'A'),
           ('x1', 'B', 1, 1, 'rs1', 'G'))
         AS t(patient_id, physical_chromosome, het_combo, het_combos, snp_id, allele)
         ORDER BY patient_id, het_combo, snp_id, physical_chromosome""",

    // Derivation: h1 chrom A {rs1=A} is ambiguous ({*1,*5}) -> no call, so
    // only B's *2 fills slot 1; h2 combo 1 phases to (A={A,A}->*5,
    // B={G,G}->*3) and combo 2 to (A={A,G}->*1, B={G,A}->*4), sorted pairs;
    // x1 merges het rs1 with hom rs2=G on both strands: A->*1, B->*3.
    "q35_het_genotype" ->
      """SELECT * FROM (VALUES
           ('h1', 'g1', 1, 1, '*2', CAST(NULL AS VARCHAR)),
           ('h2', 'g1', 1, 2, '*3', '*5'),
           ('h2', 'g1', 2, 2, '*1', '*4'),
           ('x1', 'g1', 1, 1, '*1', '*3'))
         AS t(patient_id, gene_name, het_combo, het_combos, haplotype_name1, haplotype_name2)
         ORDER BY patient_id, het_combo""",

    // (*2, null) matches no genotype_phenotype rule; the three paired
    // genotypes match the fixture rules added for the het path.
    "q36_het_gene_phenotype" ->
      """SELECT * FROM (VALUES
           ('h2', 'g1', 1, 2, 'poor combo'),
           ('h2', 'g1', 2, 2, 'rapid combo'),
           ('x1', 'g1', 1, 1, 'mixed function'))
         AS t(patient_id, gene_name, het_combo, het_combos, phenotype_name)
         ORDER BY patient_id, het_combo""",

    // Each phenotype set {(g1, p)} contains exactly one rule's requirement.
    "q37_het_recommendation" ->
      """SELECT * FROM (VALUES
           ('h2', 1, 2, CAST(4 AS BIGINT)),
           ('h2', 2, 2, CAST(5 AS BIGINT)),
           ('x1', 1, 1, CAST(3 AS BIGINT)))
         AS t(patient_id, het_combo, het_combos, drug_recommendation_id)
         ORDER BY patient_id, het_combo""",

    "q38_interval_join" ->
      """SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
                c.ts AS click_ts, p.ts AS purchase_ts,
                round(p.value, 2) AS purchase_value
         FROM events c JOIN events p ON c.user_id = p.user_id
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
           AND p.ts > c.ts
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
         ORDER BY click_id, purchase_id""",

    "q39_bloom_pruned_join" ->
      """SELECT l_orderkey, l_linenumber, round(o_totalprice, 2) AS o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 450000
         ORDER BY l_orderkey, l_linenumber""",

    // Window-blanking reproduction of the condensed join: same total order
    // (__ord), same per-dup-key first-occurrence test.
    "q40_condensed_report" ->
      """WITH j AS (
           SELECT r_name, n_name, c_name, c_acctbal
           FROM region
           LEFT JOIN nation ON n_regionkey = r_regionkey
           LEFT JOIN customer ON c_nationkey = n_nationkey),
         o AS (
           SELECT *, row_number() OVER (ORDER BY r_name ASC NULLS FIRST,
             n_name ASC NULLS FIRST, c_name ASC NULLS FIRST,
             c_acctbal ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY r_name ORDER BY ord) AS rr,
             row_number() OVER (PARTITION BY n_name ORDER BY ord) AS rn
           FROM o)
         SELECT CASE WHEN rr = 1 THEN r_name END AS r_name,
                CASE WHEN rn = 1 THEN n_name END AS n_name,
                c_name, c_acctbal
         FROM f ORDER BY c_name ASC NULLS FIRST, r_name ASC NULLS FIRST""",

    // Full re-derivation of the condensed phenotype report. Stage frames come
    // from the shared fixtureCallChain (gh = haplotype calls, gt = genotype,
    // gp = genePhenotype, gpdr = rules); pdr is the q28 containment; dr/jpgp
    // reproduce the report's withId surrogate keys (row_number over the
    // frame's column ordering — drug rows sort to their original ids, the
    // two genePhenotype rows sort p1 < p2). The join cascade, the __ord
    // total order (the condensed spec's dup-key + header columns, all ASC
    // NULLS FIRST), and the per-table first-occurrence blanking mirror
    // CondensedJoin.condensed + RowOps.noDuplicates; constant columns
    // (job_id, het_combo/het_combos = 1) are omitted from the ORDER BY as
    // they cannot affect it.
    "q41_report_phenotype" ->
      s"""$fixtureCallChain,
         pdr AS (
           SELECT patient_id, drug_recommendation_id FROM (
             SELECT gpdr.drug_recommendation_id, gp.patient_id, count(*) AS gc
             FROM gp JOIN gpdr USING (gene_name, phenotype_name)
             GROUP BY 1, 2) i
           JOIN (SELECT drug_recommendation_id, count(*) AS sa
                 FROM gpdr GROUP BY 1) sz USING (drug_recommendation_id)
           WHERE gc = sa),
         dr(id, drug_name, recommendation) AS (VALUES
           (CAST(1 AS BIGINT), 'drugA', 'drug'), (2, 'drugB', 'some drug'),
           (3, 'drugC', 'drug3'), (4, 'drugD', 'drug4'), (5, 'drugE', 'drug5')),
         jpgp AS (SELECT gp.*, row_number() OVER (ORDER BY patient_id) AS id FROM gp),
         j AS (
           SELECT p.patient_id, p.drug_recommendation_id,
                  dr.id AS dr_id, dr.drug_name, dr.recommendation,
                  g2.id AS jpgp_id, g2.gene_name AS gp_gene, g2.phenotype_name,
                  gt.haplotype_name1, gt.haplotype_name2,
                  gh.patient_id AS gh_patient, gh.gene_name AS gh_gene,
                  gh.haplotype_name AS hap_called,
                  v.patient_id AS v_patient, v.snp_id, v.allele
           FROM pdr p
           LEFT JOIN dr ON p.drug_recommendation_id = dr.id
           LEFT JOIN gpdr r ON r.drug_recommendation_id = p.drug_recommendation_id
           LEFT JOIN jpgp g2 ON g2.patient_id = p.patient_id
             AND g2.gene_name = r.gene_name AND g2.phenotype_name = r.phenotype_name
           LEFT JOIN gtp ON gtp.gene_name = g2.gene_name
             AND gtp.phenotype_name = g2.phenotype_name
           LEFT JOIN gt ON gt.patient_id = g2.patient_id
             AND gt.haplotype_name1 = gtp.haplotype_name1
             AND gt.haplotype_name2 = gtp.haplotype_name2
           LEFT JOIN gh ON gh.patient_id = gt.patient_id
             AND gh.gene_name = gt.gene_name
             AND (gh.haplotype_name = gt.haplotype_name1
               OR gh.haplotype_name = gt.haplotype_name2)
           LEFT JOIN ghv ON ghv.gene_name = gh.gene_name
             AND ghv.haplotype_name = gh.haplotype_name
           LEFT JOIN var v ON v.patient_id = gh.patient_id
             AND v.snp_id = ghv.snp_id AND v.allele = ghv.allele),
         o AS (
           SELECT *, row_number() OVER (ORDER BY
             dr_id ASC NULLS FIRST, patient_id ASC NULLS FIRST,
             jpgp_id ASC NULLS FIRST, gh_patient ASC NULLS FIRST,
             gh_gene ASC NULLS FIRST, hap_called ASC NULLS FIRST,
             v_patient ASC NULLS FIRST, allele ASC NULLS FIRST,
             snp_id ASC NULLS FIRST, drug_recommendation_id ASC NULLS FIRST,
             drug_name ASC NULLS FIRST, recommendation ASC NULLS FIRST,
             gp_gene ASC NULLS FIRST, phenotype_name ASC NULLS FIRST,
             haplotype_name1 ASC NULLS FIRST, haplotype_name2 ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY patient_id, drug_recommendation_id
               ORDER BY ord) AS rn1,
             row_number() OVER (PARTITION BY dr_id, patient_id
               ORDER BY ord) AS rn2,
             row_number() OVER (PARTITION BY jpgp_id, dr_id
               ORDER BY ord) AS rn3,
             row_number() OVER (PARTITION BY patient_id, haplotype_name1, haplotype_name2
               ORDER BY ord) AS rn4,
             row_number() OVER (PARTITION BY gh_patient, gh_gene, hap_called
               ORDER BY ord) AS rn5,
             row_number() OVER (PARTITION BY v_patient, gh_gene, hap_called, allele, snp_id
               ORDER BY ord) AS rn6
           FROM o)
         SELECT CASE WHEN rn1 = 1 THEN patient_id END AS "SAMPLE_ID",
                CASE WHEN rn1 = 1 THEN drug_recommendation_id END AS "DRUG_RECOMMENDATION_ID",
                CASE WHEN rn1 = 1 THEN 1 END AS "HET_COMBO",
                CASE WHEN rn1 = 1 THEN 1 END AS "#HET_COMBOS",
                CASE WHEN rn2 = 1 THEN drug_name END AS "DRUG",
                CASE WHEN rn2 = 1 THEN recommendation END AS "RECOMMENDATION",
                CASE WHEN rn3 = 1 THEN gp_gene END AS "GENE",
                CASE WHEN rn3 = 1 THEN phenotype_name END AS "PHENOTYPE",
                CASE WHEN rn4 = 1 THEN haplotype_name1 END AS "HAPLOTYPE1",
                CASE WHEN rn4 = 1 THEN haplotype_name2 END AS "HAPLOTYPE2",
                CASE WHEN rn5 = 1 THEN hap_called END AS "HAPLOTYPE",
                CASE WHEN rn6 = 1 THEN snp_id END AS "RS#",
                CASE WHEN rn6 = 1 THEN allele END AS "ALLELE"
         FROM f ORDER BY ord""",

    // Genotype-path report derivation: jpgdr is the genotype containment
    // (single-row rule sets ⇒ equality join on the sorted pair); jpg gets
    // the withId surrogate (the two genotype rows sort p1 < p2); ordering
    // and blanking mirror the spec's dup keys exactly as in q41.
    "q48_report_genotype" ->
      s"""$fixtureCallChain,
         gdr(gene_name, haplotype_name1, haplotype_name2, drug_recommendation_id) AS
           (VALUES ('g1', '*1', '*1', CAST(1 AS BIGINT)),
                   ('g1', '*2', '*2', CAST(2 AS BIGINT))),
         jpgdr AS (
           SELECT gt.patient_id, gdr.drug_recommendation_id
           FROM gt JOIN gdr USING (gene_name, haplotype_name1, haplotype_name2)),
         dr(id, drug_name, recommendation) AS (VALUES
           (CAST(1 AS BIGINT), 'drugA', 'drug'), (2, 'drugB', 'some drug'),
           (3, 'drugC', 'drug3'), (4, 'drugD', 'drug4'), (5, 'drugE', 'drug5')),
         jpg AS (SELECT gt.*, row_number() OVER (ORDER BY patient_id) AS id FROM gt),
         j AS (
           SELECT p.patient_id, p.drug_recommendation_id,
                  dr.id AS dr_id, dr.drug_name, dr.recommendation,
                  g2.id AS jpg_id, g2.gene_name AS g_gene,
                  g2.haplotype_name1, g2.haplotype_name2,
                  gh.patient_id AS gh_patient, gh.gene_name AS gh_gene,
                  gh.haplotype_name AS hap_called,
                  v.patient_id AS v_patient, v.snp_id, v.allele
           FROM jpgdr p
           LEFT JOIN dr ON p.drug_recommendation_id = dr.id
           LEFT JOIN gdr r ON r.drug_recommendation_id = p.drug_recommendation_id
           LEFT JOIN jpg g2 ON g2.patient_id = p.patient_id
             AND g2.haplotype_name1 = r.haplotype_name1
             AND g2.haplotype_name2 = r.haplotype_name2
           LEFT JOIN gh ON gh.patient_id = g2.patient_id
             AND gh.gene_name = g2.gene_name
             AND (gh.haplotype_name = g2.haplotype_name1
               OR gh.haplotype_name = g2.haplotype_name2)
           LEFT JOIN ghv ON ghv.gene_name = gh.gene_name
             AND ghv.haplotype_name = gh.haplotype_name
           LEFT JOIN var v ON v.patient_id = gh.patient_id
             AND v.snp_id = ghv.snp_id AND v.allele = ghv.allele),
         o AS (
           SELECT *, row_number() OVER (ORDER BY
             dr_id ASC NULLS FIRST, patient_id ASC NULLS FIRST,
             jpg_id ASC NULLS FIRST, gh_patient ASC NULLS FIRST,
             gh_gene ASC NULLS FIRST, hap_called ASC NULLS FIRST,
             v_patient ASC NULLS FIRST, allele ASC NULLS FIRST,
             snp_id ASC NULLS FIRST, drug_recommendation_id ASC NULLS FIRST,
             drug_name ASC NULLS FIRST, recommendation ASC NULLS FIRST,
             g_gene ASC NULLS FIRST, haplotype_name1 ASC NULLS FIRST,
             haplotype_name2 ASC NULLS FIRST) AS ord
           FROM j),
         f AS (
           SELECT *,
             row_number() OVER (PARTITION BY patient_id, drug_recommendation_id
               ORDER BY ord) AS rn1,
             row_number() OVER (PARTITION BY dr_id, patient_id
               ORDER BY ord) AS rn2,
             row_number() OVER (PARTITION BY jpg_id, dr_id
               ORDER BY ord) AS rn3,
             row_number() OVER (PARTITION BY gh_patient, gh_gene, hap_called
               ORDER BY ord) AS rn5,
             row_number() OVER (PARTITION BY v_patient, gh_gene, hap_called, allele, snp_id
               ORDER BY ord) AS rn6
           FROM o)
         SELECT CASE WHEN rn1 = 1 THEN patient_id END AS "SAMPLE_ID",
                CASE WHEN rn1 = 1 THEN drug_recommendation_id END AS "DRUG_RECOMMENDATION_ID",
                CASE WHEN rn1 = 1 THEN 1 END AS "HET_COMBO",
                CASE WHEN rn1 = 1 THEN 1 END AS "#HET_COMBOS",
                CASE WHEN rn2 = 1 THEN drug_name END AS "DRUG",
                CASE WHEN rn2 = 1 THEN recommendation END AS "RECOMMENDATION",
                CASE WHEN rn3 = 1 THEN g_gene END AS "GENE",
                CASE WHEN rn3 = 1 THEN haplotype_name1 END AS "HAPLOTYPE1",
                CASE WHEN rn3 = 1 THEN haplotype_name2 END AS "HAPLOTYPE2",
                CASE WHEN rn5 = 1 THEN hap_called END AS "HAPLOTYPE",
                CASE WHEN rn6 = 1 THEN snp_id END AS "RS#",
                CASE WHEN rn6 = 1 THEN allele END AS "ALLELE"
         FROM f ORDER BY ord""",

    // Hand-derived collapse of the 14 q41 rows (Row.groovy:109-185 + the
    // canCollapse header-order rule, sql/Report.groovy:94-141): p1's dense
    // first row absorbs its trailing all-blank rows; p1's second SNP row
    // ({rs2, G}) cannot merge left (RS#/ALLELE overlap) and p2's context
    // row cannot merge into IT (SAMPLE_ID comes before ALLELE in header
    // order); p2's context row (whose jpv join missed — rs2=T is uncalled)
    // then absorbs its own {rs1, C} SNP row, which extends it rightward.
    "q49_report_collapsed" ->
      """SELECT * FROM (VALUES
           ('p1', CAST(1 AS BIGINT), 1, 1, 'drugA', 'drug', 'g1',
            'homozygote normal', '*1', '*1', '*1', 'rs1', 'A'),
           (CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
            CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
            CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), 'rs2', 'G'),
           ('p2', CAST(2 AS BIGINT), 1, 1, 'drugB', 'some drug', 'g1',
            'nonfunctional', '*2', '*2', '*2', 'rs1', 'C'))
         AS t("SAMPLE_ID", "DRUG_RECOMMENDATION_ID", "HET_COMBO",
              "#HET_COMBOS", "DRUG", "RECOMMENDATION", "GENE", "PHENOTYPE",
              "HAPLOTYPE1", "HAPLOTYPE2", "HAPLOTYPE", "RS#", "ALLELE")
         ORDER BY "SAMPLE_ID" ASC NULLS FIRST, "RS#" ASC NULLS FIRST""",

    "q42_dsv_render" ->
      """SELECT c_custkey,
           concat_ws('|',
             coalesce(CAST(c_name AS VARCHAR), ''),
             coalesce(CAST(CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
                           ELSE c_mktsegment END AS VARCHAR), ''),
             coalesce(CAST(c_nationkey AS VARCHAR), ''),
             coalesce(CAST(c_custkey AS VARCHAR), '')) AS dsv_line
         FROM customer ORDER BY c_custkey""",

    // Hand-derived golden from the fixture matrix (*1..*5 known rows) plus
    // the two novel hom patients: p4 = unseen combination (rs1 C + rs2 G),
    // p5 = unseen allele (rs1 X, no rs2 call → NULL cell). Combo fields are
    // the hom defaults (1/1).
    "q43_novel_matrix" ->
      """SELECT * FROM (VALUES
           ('*1', 'A', 'G'),
           ('*2', 'C', 'T'),
           ('*3', 'G', 'G'),
           ('*4', 'G', 'A'),
           ('*5', 'A', 'A'),
           ('Sample p4, chrA (1/1)', 'C', 'G'),
           ('Sample p4, chrB (1/1)', 'C', 'G'),
           ('Sample p5, chrA (1/1)', 'X', CAST(NULL AS VARCHAR)),
           ('Sample p5, chrB (1/1)', 'X', CAST(NULL AS VARCHAR)))
         AS t(row_name, rs1, rs2)
         ORDER BY row_name""",

    // Hand-derived from Dependency.groovy:136-317 over the pipeline shape:
    // col_level = shortest path to a leaf via dependants; row_level = the
    // per-column 2-D assignment (within-level roots sorted by name, each
    // DFS-numbering its within-level dependants, groups concatenated in
    // root order); n_dependants = direct dependant count.
    "q44_stage_graph_layout" ->
      """SELECT * FROM (VALUES
           ('geneHaplotype', 2, 0, 1),
           ('genePhenotype', 1, 1, 1),
           ('genotype', 1, 0, 2),
           ('genotypeDrugRecommendation', 0, 0, 0),
           ('haplotypeCalls', 1, 2, 2),
           ('hetVariant', 2, 2, 1),
           ('novelHaplotype', 0, 1, 0),
           ('phenotypeDrugRecommendation', 0, 2, 0),
           ('variant', 2, 1, 2))
         AS t(stage, col_level, row_level, n_dependants)
         ORDER BY stage""",

    // The salted two-phase aggregate must equal the plain aggregate exactly
    // (decimal partials make the re-aggregation order-insensitive).
    "q45_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n_rows,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // Streaming exact-dedup ≡ the batch q14 aggregate.
    "q46_streaming_dedup" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint,
                count(*) AS n_docs, min(doc_id) AS keep_id
         FROM documents GROUP BY 1 ORDER BY fingerprint""",

    // Same IVF index build as q20; exact cosine within cells only.
    "q47_ivf_cell_pairs" ->
      s"""WITH $ivfAssignCtes,
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CASE WHEN a.vn * b.vn > 0 THEN
               list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / (a.vn * b.vn)
             ELSE 0.0 END AS cosine_sim
           FROM assigned a JOIN assigned b
             ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id)
         SELECT id_a, id_b, round(cosine_sim, 4) AS cosine_sim
         FROM pairs WHERE cosine_sim >= 0.3
         ORDER BY id_a, id_b""",

    "q32_collapse_by_key" ->
      """SELECT lang, string_agg(DISTINCT source, '. ' ORDER BY source) AS source
         FROM documents GROUP BY lang ORDER BY lang""",

    "q33_fk_resolution" ->
      """SELECT p_partkey, type_id FROM part
         JOIN (SELECT p_type, CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS type_id
               FROM (SELECT DISTINCT p_type FROM part)) ids USING (p_type)
         ORDER BY p_partkey""",

    "q34_phenotype_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(
             lower('Poor Metabolizers (~' || CAST(doc_id % 10 AS VARCHAR) || '-' ||
                   CAST(doc_id % 20 AS VARCHAR) || '% of patients).'),
             '\.+$', ''),
             '\(~\d+(-\d+)?% *(of patients)?\)', ''),
             '\s+', ' ', 'g')) AS phenotype_name
         FROM documents ORDER BY doc_id""",

    "q30_load_pipeline_100k" ->
      """SELECT 'sample' || CAST(s AS VARCHAR) AS patient_id,
                chrom.physical_chromosome,
                'rs' || CAST((s - 1) * 5000 + v AS VARCHAR) AS snp_id,
                CASE WHEN v = 1 THEN '1' ELSE 'A' END AS allele,
                'hom' AS zygosity
         FROM generate_series(1, 10) AS samples(s),
              generate_series(1, 5000) AS vars(v),
              (VALUES ('A'), ('B')) AS chrom(physical_chromosome)
         ORDER BY patient_id, snp_id, physical_chromosome""",

    "q31_load_gene_haplotype_2M" ->
      """SELECT 'sample' || CAST(s AS VARCHAR) AS patient_id,
                chrom.physical_chromosome,
                'g' || CAST(s AS VARCHAR) AS gene_name,
                '*1' AS haplotype_name
         FROM generate_series(1, 100) AS samples(s),
              (VALUES ('A'), ('B')) AS chrom(physical_chromosome)
         ORDER BY patient_id, physical_chromosome""",

    // The DSV text render + regex read-back must reproduce the source table.
    "q89_dsv_regex" ->
      """SELECT n_nationkey, n_name, n_regionkey
         FROM nation ORDER BY n_nationkey""",

    // Closure-mode upsert: LEFT JOIN applies the merge to matches, the
    // NOT EXISTS branch is the insert side; decimal partials keep the
    // balance addition order-insensitive.
    "q90_upsert_merge" ->
      """WITH existing AS (
           SELECT c_custkey AS k, CAST(c_acctbal AS DECIMAL(18,2)) AS bal,
                  c_mktsegment AS segment
           FROM customer WHERE c_custkey % 2 = 0),
         incoming AS (
           SELECT o_custkey AS k, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS bal
           FROM orders GROUP BY o_custkey),
         merged AS (
           SELECT e.k,
                  CASE WHEN i.k IS NOT NULL THEN e.bal + i.bal ELSE e.bal END AS bal,
                  e.segment
           FROM existing e LEFT JOIN incoming i ON e.k = i.k
           UNION ALL
           SELECT i.k, i.bal, 'NEW' AS segment
           FROM incoming i
           WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.k = i.k))
         SELECT k, CAST(bal AS DOUBLE) AS bal, segment
         FROM merged ORDER BY k""",

    // Hand-derived from Dependency.groovy:101-116 over the q91 graph: the
    // exact hook event sequence (deps-first order, onfail then after_failed
    // on a swallowed failure, dependant fails on the missing input,
    // independent subtree builds).
    "q91_stage_hooks" ->
      """SELECT * FROM (VALUES
           (1, 'base', 'before'), (2, 'base', 'after_ok'),
           (3, 'bad', 'before'), (4, 'bad', 'onfail'), (5, 'bad', 'after_failed'),
           (6, 'downstream', 'before'), (7, 'downstream', 'onfail'),
           (8, 'downstream', 'after_failed'),
           (9, 'healthy', 'before'), (10, 'healthy', 'after_ok'))
         AS t(step, stage, event) ORDER BY step""",

    // The JSONL export/import must reproduce the source table exactly.
    "q92_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    // Exact-n per-group selection: the bounded-aggregate winners equal the
    // (md5(id), id)-ordered rank window.
    "q93_per_group_sample" ->
      """SELECT doc_id, source FROM (
           SELECT doc_id, source, row_number() OVER (
             PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
           FROM documents)
         WHERE rn <= 10 ORDER BY source, doc_id""",

    // Decomposed (e + chr(769)) and composed (chr(233)) suffixes NFC-fold
    // to identical codepoints; fingerprints computed on the folded text.
    "q94_nfc_normalize" ->
      """SELECT doc_id,
              nfc_normalize(text || CASE WHEN doc_id % 2 = 1
                THEN ' caf' || 'e' || chr(769)
                ELSE ' caf' || chr(233) END) AS text_nfc,
              md5(nfc_normalize(text || CASE WHEN doc_id % 2 = 1
                THEN ' caf' || 'e' || chr(769)
                ELSE ' caf' || chr(233) END)) AS fp
         FROM documents ORDER BY doc_id""",

    // Snapshot diff: the derived refresh re-built in SQL, fingerprints
    // compared across a full-outer join on the id.
    "q95_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, md5(text) AS old_fp FROM documents),
         nw0 AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         nw AS (SELECT doc_id, md5(text) AS new_fp FROM nw0)
         SELECT doc_id,
           CASE WHEN old_fp IS NULL THEN 'added'
                WHEN new_fp IS NULL THEN 'removed'
                WHEN old_fp = new_fp THEN 'unchanged'
                ELSE 'changed' END AS status,
           old_fp, new_fp
         FROM old FULL JOIN nw USING (doc_id)
         ORDER BY doc_id""",

    // Per-stratum percentile gate: rank and stratum count from the same
    // window formulation; kept rows are rank <= ceil(0.25 * n).
    "q96_percentile_gate" ->
      """SELECT doc_id, source, n_chars, CAST(rank AS INTEGER) AS rank,
              stratum_n
         FROM (
           SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY n_chars DESC, doc_id) AS rank,
             count(*) OVER (PARTITION BY source) AS stratum_n
           FROM documents WHERE n_chars IS NOT NULL)
         WHERE rank <= ceil(0.25 * stratum_n)
         ORDER BY source, rank""",

    // The ORC export/import must reproduce the source table exactly.
    "q97_orc_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars
         FROM documents ORDER BY doc_id""",

    // Temperature mixture: tempered per-source weights (pow alpha = 0.5,
    // rounded to 6 decimals for engine portability) over the corpus's own
    // char totals, then the integer-exact md5 cut in 4096ths.
    "q98_temperature_mix" ->
      """WITH totals AS (
           SELECT source, sum(n_chars) AS st FROM documents GROUP BY source),
         tw AS (SELECT source, st, pow(CAST(st AS DOUBLE), 0.5) AS p FROM totals),
         w AS (SELECT source, st, round(p / sum(p) OVER (), 6) AS wt FROM tw),
         c AS (SELECT source, st,
             greatest(CAST(floor(50000.0 * wt * 4096.0 / CAST(st AS DOUBLE)) AS BIGINT), 1) AS cut
           FROM w)
         SELECT d.doc_id, d.source, d.n_chars
         FROM documents d JOIN c USING (source)
         WHERE c.cut >= 4096
            OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 3) <
               lpad(to_hex(c.cut), 3, '0')
         ORDER BY d.doc_id""",

    // The full PQ/ADC pipeline re-derived: md5-sampled codebook rows
    // (code ids = ascending sampled-id positions), per-subspace argmin-L2
    // encoding, per-query distance tables, j-ordered list_sum ADC
    // distances (bit-matching the packed-code expression's sequential
    // sum), top-20 shortlist by (adist, id), exact-cosine re-rank to 5.
    "q99_pq_adc_topk" ->
      """WITH cbsrc AS (
           SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, embedding
           FROM (SELECT vec_id, embedding FROM embeddings
                 ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
                 LIMIT 16) t),
         cb AS (
           SELECT j, code_id,
             list_transform(embedding[j*8+1 : j*8+8],
               x -> CAST(x AS DOUBLE)) AS sub
           FROM cbsrc CROSS JOIN range(0, 8) r(j)),
         vsub AS (
           SELECT vec_id, j,
             list_transform(embedding[j*8+1 : j*8+8],
               x -> CAST(x AS DOUBLE)) AS sub
           FROM embeddings CROSS JOIN range(0, 8) r(j)),
         enc1 AS (
           SELECT vec_id, j, code_id FROM (
             SELECT v.vec_id, v.j, c.code_id,
               row_number() OVER (PARTITION BY v.vec_id, v.j ORDER BY
                 list_sum(list_transform(range(1, 9),
                   t -> (v.sub[t] - c.sub[t]) * (v.sub[t] - c.sub[t]))),
                 c.code_id) AS r
             FROM vsub v JOIN cb c USING (j))
           WHERE r = 1),
         encl AS (
           SELECT vec_id, list(code_id ORDER BY j) AS codes
           FROM enc1 GROUP BY vec_id),
         qsub AS (SELECT vec_id AS query_id, j, sub FROM vsub WHERE vec_id < 5),
         qd AS (
           SELECT q.query_id, q.j, c.code_id,
             list_sum(list_transform(range(1, 9),
               t -> (q.sub[t] - c.sub[t]) * (q.sub[t] - c.sub[t]))) AS d
           FROM qsub q JOIN cb c USING (j)),
         qtab AS (
           SELECT query_id, j, list(d ORDER BY code_id) AS tab
           FROM qd GROUP BY query_id, j),
         qtabs AS (
           SELECT query_id, list(tab ORDER BY j) AS tabs
           FROM qtab GROUP BY query_id),
         cand AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adist, vec_id) AS r
           FROM (SELECT q.query_id, e.vec_id,
                   list_sum(list_transform(range(1, 9),
                     j -> q.tabs[j][e.codes[j] + 1])) AS adist
                 FROM encl e CROSS JOIN qtabs q)),
         short AS (SELECT query_id, vec_id FROM cand WHERE r <= 20),
         scored AS (
           SELECT query_id, vec_id,
             CASE WHEN en * qn > 0 THEN dp / (en * qn) ELSE 0.0 END AS sim
           FROM (
             SELECT sh.query_id, sh.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) *
                      CAST(q.embedding[i] AS DOUBLE))) AS dp,
               sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en,
               sqrt(list_sum(list_transform(q.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
             FROM short sh
               JOIN embeddings e ON sh.vec_id = e.vec_id
               JOIN embeddings q ON sh.query_id = q.vec_id)),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank""",

    // Matryoshka two-stage search: prefix-16 cosine shortlist of 20 by
    // (prefix sim desc, id), then exact full-dim cosine re-rank to 5.
    "q100_prefix_topk" ->
      """WITH pre AS (
           SELECT vec_id,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS pv
           FROM embeddings),
         pren AS (
           SELECT vec_id, pv,
             sqrt(list_sum(list_transform(pv, x -> x * x))) AS pn
           FROM pre),
         q AS (SELECT vec_id AS query_id, pv AS qpv, pn AS qpn
           FROM pren WHERE vec_id < 5),
         cand AS (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY psim DESC, vec_id) AS r
           FROM (SELECT q.query_id, v.vec_id,
                   CASE WHEN v.pn * q.qpn > 0 THEN
                     list_sum(list_transform(range(1, 17),
                       i -> v.pv[i] * q.qpv[i])) / (v.pn * q.qpn)
                   ELSE 0.0 END AS psim
                 FROM pren v CROSS JOIN q)),
         short AS (SELECT query_id, vec_id FROM cand WHERE r <= 20),
         scored AS (
           SELECT query_id, vec_id,
             CASE WHEN en * qn > 0 THEN dp / (en * qn) ELSE 0.0 END AS sim
           FROM (
             SELECT sh.query_id, sh.vec_id,
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) *
                      CAST(qe.embedding[i] AS DOUBLE))) AS dp,
               sqrt(list_sum(list_transform(e.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en,
               sqrt(list_sum(list_transform(qe.embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
             FROM short sh
               JOIN embeddings e ON sh.vec_id = e.vec_id
               JOIN embeddings qe ON sh.query_id = qe.vec_id)),
         ranked AS (
           SELECT query_id, vec_id, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         SELECT query_id, vec_id, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM ranked WHERE rank <= 5
         ORDER BY query_id, rank""",

    // The forward-fill as-of must equal DuckDB's native ASOF LEFT JOIN.
    "q102_asof_join" ->
      """WITH l AS (SELECT event_id, ts, user_id, value FROM events
           WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts AS click_ts,
               max_by(value, event_id) AS click_value
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
         SELECT l.event_id, l.ts, l.user_id, round(l.value, 2) AS value,
                r.click_ts, round(r.click_value, 2) AS click_value
         FROM l ASOF LEFT JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.click_ts
         ORDER BY l.event_id""",

    // The bucketized range join must equal the plain range-predicate join.
    "q103_range_join" ->
      """SELECT p.event_id, p.ts, p.user_id, i.start_ts
         FROM (SELECT event_id, ts, user_id FROM events
               WHERE event_type = 'error') p
         JOIN (SELECT user_id, ts AS start_ts,
                 ts + INTERVAL 2 HOUR AS end_ts
               FROM events WHERE event_type = 'signup') i
           ON p.user_id = i.user_id
          AND p.ts >= i.start_ts AND p.ts < i.end_ts
         ORDER BY event_id, start_ts""",

    // The bucketized interval join must equal the plain overlap-predicate
    // join, pair for pair.
    "q104_interval_join" ->
      """WITH l AS (SELECT user_id, event_id AS l_id, ts AS l_start,
                ts + INTERVAL 2 HOUR AS l_end
           FROM events WHERE event_type = 'signup'),
         r AS (SELECT user_id, event_id AS r_id, ts AS r_start,
                ts + INTERVAL 1 HOUR AS r_end
           FROM events WHERE event_type = 'error')
         SELECT l.l_id, r.r_id, l.l_start, r.r_start
         FROM l JOIN r ON l.user_id = r.user_id
           AND l.l_start < r.r_end AND r.r_start < l.l_end
         ORDER BY l_id, r_id""",

    // q51's recursive closure, then each cluster's winner = max n_chars
    // with min-id tie-break; kept corpus = everything minus the clustered
    // non-winners.
    "q105_dedup_keep_best" ->
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         scored AS (
           SELECT c.id, c.cluster_id, d.n_chars
           FROM clusters c JOIN documents d ON d.doc_id = c.id),
         best AS (SELECT cluster_id, max(n_chars) AS mx
                  FROM scored GROUP BY cluster_id),
         winners AS (
           SELECT s.cluster_id, min(s.id) AS id
           FROM scored s JOIN best b
             ON s.cluster_id = b.cluster_id AND s.n_chars = b.mx
           GROUP BY s.cluster_id),
         drops AS (SELECT id FROM clusters
                   WHERE id NOT IN (SELECT id FROM winners))
         SELECT doc_id, n_chars FROM documents
         WHERE doc_id NOT IN (SELECT id FROM drops)
         ORDER BY doc_id""",

    // q53's exact ranking restricted to label-mismatched candidates.
    "q106_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         e AS (SELECT vec_id, embedding, label,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         s AS (
           SELECT q.query_id, e.vec_id, CAST(e.label AS BIGINT) AS label,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (e.vn * q.qn)
             ELSE 0.0 END AS sim
           FROM e CROSS JOIN q WHERE e.label IS DISTINCT FROM q.qlabel),
         r AS (
           SELECT query_id, vec_id, label, sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM s)
         SELECT query_id, vec_id, label, round(sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // Full BM25 re-derivation: corpus term/df/length stats, Lucene idf,
    // per-(query, doc) contributions folded over the term-sorted list
    // (identical float add order to the Spark fold), rank on the
    // 6dp-rounded score with ascending-id tie-break.
    "q107_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT * FROM (VALUES
             (0, 'spark window agg'), (1, 'customer query table'),
             (2, 'vector merge stream'), (3, 'slow scan filter'))
           AS v(query_id, qtext)),
         qt AS (SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(lower(qtext), '\\s+'), x -> len(x) > 0)))
             AS tok FROM q),
         dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM terms
           WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
         qi AS (SELECT query_id, tok,
             ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
           FROM qt JOIN dfq USING (tok), stats),
         contrib AS (SELECT query_id, doc_id, tok,
             idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 +
               0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
           FROM terms JOIN qi USING (tok)),
         sc AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(t := tok, s := s))), x -> x.s)), 6)
               AS score
           FROM contrib GROUP BY query_id, doc_id),
         r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10
         ORDER BY query_id, rank""",

    // Scalar-quantization search re-derived: per-dim min/max, floor-bucket
    // int8 codes, midpoint reconstruction, approximate-cosine shortlist of
    // 20, exact cosine re-rank — every stage the same IEEE double
    // expression as the Spark plan.
    "q108_sq8_topk" ->
      """WITH p AS (SELECT j,
             min(CAST(embedding[j] AS DOUBLE)) AS mn,
             max(CAST(embedding[j] AS DOUBLE)) AS mx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS j) r GROUP BY j),
         ps AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
           FROM p),
         enc AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               CAST(greatest(0.0, least(255.0,
                 floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                   / (mxs[i] - mns[i]) * 256.0))) AS INT)
             ELSE 0 END) AS sq
           FROM embeddings, ps),
         rec AS (SELECT vec_id, list_transform(range(1, 65), i ->
             mns[i] + (CAST(sq[i] AS DOUBLE) + 0.5) * (mxs[i] - mns[i]) / 256.0)
             AS rv
           FROM enc, ps),
         rn AS (SELECT vec_id, rv,
             sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnorm FROM rec),
         q AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         approx AS (SELECT q.query_id, r.vec_id,
             CASE WHEN r.rnorm * q.qn > 0 THEN
               list_sum(list_transform(range(1, 65),
                 i -> r.rv[i] * CAST(q.qv[i] AS DOUBLE))) / (r.rnorm * q.qn)
             ELSE 0.0 END AS asim
           FROM rn r CROSS JOIN q),
         shortlist AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY asim DESC, vec_id) AS rr FROM approx) WHERE rr <= 20),
         e AS (SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM embeddings),
         fin AS (SELECT s.query_id, s.vec_id,
             CASE WHEN e.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (e.vn * q.qn)
             ELSE 0.0 END AS cosine_sim
           FROM shortlist s JOIN e USING (vec_id) JOIN q USING (query_id)),
         r2 AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id) AS rank
           FROM fin)
         SELECT query_id, vec_id, round(cosine_sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r2 WHERE rank <= 5
         ORDER BY query_id, rank""",

    // DSIR importance weights: one vocabulary pass carrying raw + target
    // counts, add-one smoothing over the raw vocabulary, per-doc fold over
    // the token-sorted list (the q86 float-portability pattern).
    "q109_importance_weights" ->
      s"""WITH tok AS (SELECT doc_id, lang = 'en' AS tgt, unnest($toks) AS tok
           FROM documents),
         pdt AS (SELECT doc_id, tok, count(*) AS nd FROM tok
           GROUP BY doc_id, tok),
         vocab AS (SELECT tok, count(*) AS cr,
             sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct
           FROM tok GROUP BY tok),
         tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS tr,
             CAST(sum(ct) AS DOUBLE) AS tt,
             CAST(count(*) AS DOUBLE) AS v FROM vocab),
         j AS (SELECT p.doc_id, p.tok, p.nd, vv.cr, vv.ct
           FROM pdt p JOIN vocab vv USING (tok)),
         agg AS (SELECT doc_id, sum(nd) AS n_tokens,
             list_sort(list(struct_pack(tok := tok, nd := nd, cr := cr,
               ct := ct))) AS tc
           FROM j GROUP BY doc_id)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(list_sum(list_transform(tc, x -> x.nd *
             (ln((CAST(x.ct AS DOUBLE) + 1.0) / (tt + v)) -
              ln((CAST(x.cr AS DOUBLE) + 1.0) / (tr + v)))))
             / n_tokens, 6) + 0.0 AS log_ratio_per_token
         FROM agg, tot ORDER BY doc_id""",

    // Repeated-span dedup replay: windows -> duplicated-content groups
    // with min-(doc, pos) keeper -> marked ranges -> interval merge
    // (islands) -> between-range reassembly. Strings only, no floats.
    "q110_span_dedup" ->
      """WITH occ AS (
           SELECT doc_id, unnest(range(0, len(text) - 20 + 1, 10)) AS pos,
                  text
           FROM documents WHERE len(text) >= 20),
         h AS (SELECT doc_id, pos, md5(substr(text, pos + 1, 20)) AS h
           FROM occ),
         grp AS (SELECT h, count(*) AS n,
             min(struct_pack(kid := doc_id, kpos := pos)) AS keep
           FROM h GROUP BY h HAVING count(*) >= 2),
         marked AS (
           SELECT o.doc_id, o.pos AS s, o.pos + 20 AS e
           FROM h o JOIN grp g USING (h)
           WHERE NOT (o.doc_id = g.keep.kid AND o.pos = g.keep.kpos)),
         ord AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM marked),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS island
           FROM ord),
         merged AS (
           SELECT doc_id, min(s) AS s, max(e) AS e
           FROM isl GROUP BY doc_id, island),
         segs AS (
           SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
               AS seg_start,
             s AS seg_end
           FROM merged
           UNION ALL
           SELECT m.doc_id, max(m.e), len(d.text)
           FROM merged m JOIN documents d USING (doc_id)
           GROUP BY m.doc_id, len(d.text)),
         cleaned AS (
           SELECT s.doc_id,
             string_agg(substr(d.text, seg_start + 1,
               greatest(0, seg_end - seg_start)), '' ORDER BY seg_start)
               AS clean_text
           FROM segs s JOIN documents d USING (doc_id) GROUP BY s.doc_id)
         SELECT d.doc_id,
           coalesce(c.clean_text, d.text) AS clean_text,
           CAST(len(d.text) - len(coalesce(c.clean_text, d.text)) AS BIGINT)
             AS n_chars_removed
         FROM documents d LEFT JOIN cleaned c USING (doc_id)
         ORDER BY d.doc_id""",

    // Span decontamination replay: benchmark windows at stride 1, corpus
    // windows at stride 10, semi-join on the window hash, then q110's
    // islands + reassembly.
    "q112_excise_passages" ->
      """WITH bench AS (SELECT text FROM documents WHERE doc_id < 25),
         bh AS (SELECT DISTINCT md5(substr(text, bp + 1, 20)) AS h
           FROM (SELECT text, unnest(range(0, len(text) - 20 + 1, 1)) AS bp
                 FROM bench WHERE len(text) >= 20)),
         corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 25),
         occ AS (SELECT doc_id,
             unnest(range(0, len(text) - 20 + 1, 10)) AS pos, text
           FROM corpus WHERE len(text) >= 20),
         marked AS (
           SELECT doc_id, pos AS s, pos + 20 AS e
           FROM (SELECT doc_id, pos, md5(substr(text, pos + 1, 20)) AS h
                 FROM occ)
           WHERE h IN (SELECT h FROM bh)),
         ord AS (
           SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM marked),
         isl AS (
           SELECT doc_id, s, e,
             sum(CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS island
           FROM ord),
         merged AS (
           SELECT doc_id, min(s) AS s, max(e) AS e
           FROM isl GROUP BY doc_id, island),
         segs AS (
           SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0)
               AS seg_start,
             s AS seg_end
           FROM merged
           UNION ALL
           SELECT m.doc_id, max(m.e), len(d.text)
           FROM merged m JOIN corpus d USING (doc_id)
           GROUP BY m.doc_id, len(d.text)),
         cleaned AS (
           SELECT s.doc_id,
             string_agg(substr(d.text, seg_start + 1,
               greatest(0, seg_end - seg_start)), '' ORDER BY seg_start)
               AS clean_text
           FROM segs s JOIN corpus d USING (doc_id) GROUP BY s.doc_id)
         SELECT d.doc_id,
           coalesce(c.clean_text, d.text) AS clean_text,
           CAST(len(d.text) - len(coalesce(c.clean_text, d.text)) AS BIGINT)
             AS n_chars_removed
         FROM corpus d LEFT JOIN cleaned c USING (doc_id)
         ORDER BY d.doc_id""",

    // q51's recursive closure aggregated into the one-row audit card.
    "q113_dedup_audit_card" ->
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         corpus AS (SELECT count(*) AS n_docs FROM documents),
         flat AS (SELECT count(*) AS n_clustered,
             count(DISTINCT cluster_id) AS n_clusters FROM clusters),
         biggest AS (SELECT coalesce(max(sz), 0) AS max_cluster_size
           FROM (SELECT count(*) AS sz FROM clusters GROUP BY cluster_id))
         SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_clustered AS BIGINT) AS n_clustered,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_clustered - n_clusters AS BIGINT) AS n_dropped,
           CAST(max_cluster_size AS BIGINT) AS max_cluster_size,
           round(CAST(n_clustered - n_clusters AS DOUBLE) / n_docs, 6)
             AS dropped_frac
         FROM corpus, flat, biggest""",

    // q72's IVF assignment chain composed with q108's SQ chain: routed
    // queries scan only probed cells' reconstructed codes, shortlist 20,
    // exact re-rank to 5.
    "q114_ivf_sq_topk" ->
      s"""WITH $ivfAssignCtes,
         p AS (SELECT j,
             min(CAST(embedding[j] AS DOUBLE)) AS mn,
             max(CAST(embedding[j] AS DOUBLE)) AS mx
           FROM embeddings, (SELECT unnest(range(1, 65)) AS j) r GROUP BY j),
         ps AS (SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
           FROM p),
         enc AS (SELECT vec_id, list_transform(range(1, 65), i ->
             CASE WHEN mxs[i] > mns[i] THEN
               CAST(greatest(0.0, least(255.0,
                 floor((CAST(embedding[i] AS DOUBLE) - mns[i])
                   / (mxs[i] - mns[i]) * 256.0))) AS INT)
             ELSE 0 END) AS sq
           FROM embeddings, ps),
         rec AS (SELECT vec_id, list_transform(range(1, 65), i ->
             mns[i] + (CAST(sq[i] AS DOUBLE) + 0.5) * (mxs[i] - mns[i]) / 256.0)
             AS rv
           FROM enc, ps),
         rn AS (SELECT vec_id, rv,
             sqrt(list_sum(list_transform(rv, x -> x * x))) AS rnorm FROM rec),
         qs AS (SELECT vec_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 5),
         routed AS (
           SELECT query_id, qv, qn, centroid_id FROM (
             SELECT qs.query_id, qs.qv, qs.qn, c.centroid_id,
               row_number() OVER (PARTITION BY qs.query_id ORDER BY
                 (CASE WHEN qs.qn * c.cn > 0 THEN
                    list_sum(list_transform(range(1, len(c.cvec) + 1),
                      i -> CAST(c.cvec[i] AS DOUBLE) * CAST(qs.qv[i] AS DOUBLE))) / (qs.qn * c.cn)
                  ELSE 0.0 END) DESC, c.centroid_id) AS r
             FROM qs CROSS JOIN c)
           WHERE r <= 4),
         approx AS (
           SELECT rt.query_id, a.vec_id,
             max(CASE WHEN rt.qn * rn.rnorm > 0 THEN
               list_sum(list_transform(range(1, 65),
                 i -> rn.rv[i] * CAST(rt.qv[i] AS DOUBLE))) / (rt.qn * rn.rnorm)
             ELSE 0.0 END) AS asim
           FROM assigned a
           JOIN routed rt USING (centroid_id)
           JOIN rn USING (vec_id)
           GROUP BY rt.query_id, a.vec_id),
         shortlist AS (SELECT query_id, vec_id FROM (
             SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY asim DESC, vec_id) AS rr FROM approx) WHERE rr <= 20),
         fin AS (SELECT s.query_id, s.vec_id,
             CASE WHEN v.vn * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(v.embedding) + 1),
                 i -> CAST(v.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
                 / (v.vn * q.qn)
             ELSE 0.0 END AS cosine_sim
           FROM shortlist s JOIN v USING (vec_id) JOIN qs q USING (query_id)),
         r2 AS (SELECT query_id, vec_id, cosine_sim,
             row_number() OVER (PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id) AS rank
           FROM fin)
         SELECT query_id, vec_id, round(cosine_sim, 4) AS cosine_sim,
                CAST(rank AS INTEGER) AS rank
         FROM r2 WHERE rank <= 5
         ORDER BY query_id, rank""",

    // q74's signal chain plus the fixed-order linear margin on the rounded
    // signal columns; keep <=> margin >= 0.
    "q111_quality_margin" ->
      s"""WITH base AS (
           SELECT doc_id, text, $toks AS tk,
                  len(text) AS n_chars_raw,
                  len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
           FROM documents),
         m AS (
           SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_tokens,
             round(CASE WHEN len(tk) > 0 THEN CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS mean_word_len,
             round(CASE WHEN n_chars_raw > 0 THEN CAST(n_chars_raw - n_nopunct AS DOUBLE) / n_chars_raw ELSE 0.0 END, 6) AS punct_ratio,
             round(CASE WHEN len(tk) > 0 THEN CAST(len(list_filter(tk, t -> list_contains(['the','a','an','and','or','of','to','in','is','are','was','for','on','with','as','at','by','it','this','that','be','from'], t))) AS DOUBLE) / len(tk) ELSE 0.0 END, 6) AS stopword_ratio
           FROM base),
         segs AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS seg
           FROM documents),
         segstats AS (
           SELECT doc_id, count(*) AS n_segments,
                  count(DISTINCT seg) AS n_distinct_segments
           FROM segs GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(range(1, len(tk)),
             i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
               CAST(i + 1 AS INTEGER)), ' '))) AS g
           FROM base WHERE len(tk) >= 2),
         bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         bgstats AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                  CAST(max(c) AS BIGINT) AS top_bigram_count
           FROM bgc GROUP BY doc_id),
         rep AS (
           SELECT d.doc_id,
                  CASE WHEN coalesce(s.n_segments, 0) > 0
                       THEN round(1.0 - CAST(s.n_distinct_segments AS DOUBLE) / s.n_segments, 6)
                       ELSE 0.0 END AS dup_segment_frac,
                  CASE WHEN coalesce(b.n_bigrams, 0) > 0
                       THEN round(CAST(b.top_bigram_count AS DOUBLE) / b.n_bigrams, 6)
                       ELSE 0.0 END AS top_bigram_frac
           FROM documents d
           LEFT JOIN segstats s USING (doc_id)
           LEFT JOIN bgstats b USING (doc_id)),
         f AS (
           SELECT m.doc_id, m.n_tokens, m.mean_word_len, m.punct_ratio,
                  m.stopword_ratio, rep.dup_segment_frac, rep.top_bigram_frac,
                  round(-0.6 + 0.002 * CAST(m.n_tokens AS DOUBLE)
                    + 0.15 * m.mean_word_len
                    + -4.0 * m.punct_ratio
                    + 3.0 * m.stopword_ratio
                    + -2.0 * rep.dup_segment_frac
                    + -1.5 * rep.top_bigram_frac, 8) AS margin
           FROM m JOIN rep USING (doc_id))
         SELECT doc_id, n_tokens, mean_word_len, punct_ratio, stopword_ratio,
                dup_segment_frac, top_bigram_frac, margin, margin >= 0 AS keep
         FROM f ORDER BY doc_id""",

    // BPE TRAINING replay, 8 merge iterations unrolled into chained CTEs.
    // Each iteration: weighted adjacent-pair counts over the vocab, the
    // (count DESC, l, r) argmax, then the greedy left-to-right
    // non-overlapping rewrite — expressed not as a sequential fold (the
    // Spark side's formulation) but as run-parity list algebra: a match
    // position is TAKEN iff its offset within its maximal run of
    // consecutive match positions is even, which is exactly what a greedy
    // scan takes ("aaa" under (a,a): run {1,2} → take 1 only). A genuinely
    // different formulation, so the hash compare is meaningful.
    "q101_bpe_merges" -> {
      def iteration(i: Int): String = {
        val prev = s"vocab_${i - 1}"
        s"""pairs_$i AS (
           SELECT p.l AS l, p.r AS r, CAST(sum(freq) AS BIGINT) AS n
           FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
                   t -> struct_pack(l := syms[t], r := syms[t + 1]))) AS p
                 FROM $prev)
           GROUP BY p.l, p.r),
         best_$i AS (SELECT l, r, n FROM pairs_$i ORDER BY n DESC, l, r LIMIT 1),
         vocab_$i AS (
           SELECT w, freq,
             flatten(list_transform(range(1, len(syms) + 1), t ->
               CASE WHEN list_contains(tk, t) THEN [bl || br]
                    WHEN list_contains(tk, t - 1) THEN CAST([] AS VARCHAR[])
                    ELSE [syms[t]] END)) AS syms
           FROM (
             SELECT w, freq, syms, bl, br,
               list_filter(mt, t -> (t - list_max(list_filter(mt,
                 m -> m <= t AND NOT list_contains(mt, m - 1)))) % 2 = 0) AS tk
             FROM (
               SELECT v.w, v.freq, v.syms, b.l AS bl, b.r AS br,
                 list_filter(range(1, len(v.syms)),
                   t -> v.syms[t] = b.l AND v.syms[t + 1] = b.r) AS mt
               FROM $prev v, best_$i b)))"""
      }
      val numMerges = 8
      s"""WITH words AS (SELECT unnest($toks) AS w FROM documents),
         vocab_0 AS (
           SELECT w, CAST(count(*) AS BIGINT) AS freq,
             list_append(list_transform(range(1, len(w) + 1),
               t -> substr(w, t, 1)), '</w>') AS syms
           FROM words GROUP BY w),
         ${(1 to numMerges).map(iteration).mkString(",\n         ")}
         SELECT * FROM (
           ${(1 to numMerges).map(i =>
             s"""SELECT CAST($i AS INTEGER) AS rank, l AS "left", r AS "right", n FROM best_$i""")
             .mkString("\n           UNION ALL ")})
         ORDER BY rank"""
    },

    // BPE-encode replay in string space: when every symbol is one char
    // (raw chars + one sentinel per merged symbol + chr(1) for the
    // end-of-word marker), greedy left-to-right non-overlapping string
    // replace IS the trainer's symbol rewrite — the merge table becomes a
    // 6-deep replace chain, then each final char decodes back to its
    // symbol text. A genuinely different formulation of the same
    // algorithm, which is what makes the hash compare meaningful.
    "q119_bpe_encode" ->
      s"""WITH base AS (SELECT doc_id, $toks AS tk FROM documents),
         enc AS (
           SELECT doc_id,
             flatten(list_transform(tk, w -> $bpeSentinelDecode)) AS bpe_tokens
           FROM base)
         SELECT doc_id, array_to_string(bpe_tokens, ' ') AS bpe_text,
                CAST(len(bpe_tokens) AS BIGINT) AS n_bpe_tokens
         FROM enc ORDER BY doc_id""",

    // Hybrid-retrieval replay: q107's BM25 chain and q53's dense chain,
    // both over the embedding-indexed subset with the 4 query docs'
    // text/vector, then the RRF sum over the tag-sorted contribution list.
    "q121_hybrid_rrf" ->
      s"""WITH corpus AS (
           SELECT d.doc_id, d.text, e.embedding
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
         t AS (SELECT doc_id, $toks AS tk FROM corpus),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT doc_id AS query_id, text AS qtext
           FROM corpus WHERE doc_id < 4),
         qt AS (SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(lower(qtext), '\\s+'), x -> len(x) > 0)))
             AS tok FROM q),
         dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM terms
           WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
         qi AS (SELECT query_id, tok,
             ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
           FROM qt JOIN dfq USING (tok), stats),
         contrib AS (SELECT query_id, doc_id, tok,
             idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 +
               0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
           FROM terms JOIN qi USING (tok)),
         sc AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(t := tok, s := s))), x -> x.s)), 6)
               AS score
           FROM contrib GROUP BY query_id, doc_id),
         lex AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, doc_id) AS rank
             FROM sc) WHERE rank <= 20),
         qe AS (SELECT doc_id AS query_id, embedding AS qv,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM corpus WHERE doc_id < 4),
         ce AS (SELECT doc_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS vn
           FROM corpus),
         sims AS (SELECT qe.query_id, ce.doc_id,
             CASE WHEN ce.vn * qe.qn > 0 THEN
               list_sum(list_transform(range(1, len(ce.embedding) + 1),
                 i -> CAST(ce.embedding[i] AS DOUBLE) * CAST(qe.qv[i] AS DOUBLE)))
                 / (ce.vn * qe.qn)
             ELSE 0.0 END AS sim
           FROM ce CROSS JOIN qe),
         dense AS (SELECT query_id, doc_id, rank FROM (
             SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, doc_id) AS rank
             FROM sims) WHERE rank <= 20),
         allr AS (
           SELECT query_id, doc_id, 'bm25' AS src, rank FROM lex
           UNION ALL
           SELECT query_id, doc_id, 'dense' AS src, rank FROM dense),
         fused AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(s := src,
                 c := 1.0 / (60.0 + CAST(rank AS DOUBLE))))), x -> x.c)), 6)
               AS rrf_score
           FROM allr GROUP BY query_id, doc_id),
         ranked AS (SELECT query_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id) AS rank
           FROM fused)
         SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10
         ORDER BY query_id, rank""",

    // q95's snapshot construction + md5 diff for the touched slice, then
    // the q78 cross-corpus banding over the NEW snapshot restricted to
    // touched × untouched.
    "q120_incremental_dedup" ->
      s"""WITH nw AS (
           SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
           FROM documents WHERE doc_id % 7 <> 0
           UNION ALL
           SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0),
         touched AS (
           SELECT n.doc_id
           FROM nw n LEFT JOIN documents o ON o.doc_id = n.doc_id
           WHERE o.doc_id IS NULL OR md5(o.text) <> md5(n.text)),
         ${minhashBandedCtesFrom("nw")},
         cand AS (
           SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS ref_id
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig
           WHERE a.doc_id IN (SELECT doc_id FROM touched)
             AND b.doc_id NOT IN (SELECT doc_id FROM touched)),
         verified AS (
           SELECT c.corpus_id, c.ref_id,
                  CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard
           FROM cand c
           JOIN s sa ON sa.doc_id = c.corpus_id
           JOIN s sb ON sb.doc_id = c.ref_id)
         SELECT corpus_id, ref_id, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY corpus_id, ref_id""",

    // Rule-ordered redaction replay: each stage counts on the PREVIOUS
    // stage's text (what the rule actually saw), exactly as the Spark fold.
    "q115_redact_pii" ->
      """WITH src AS (
           SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) ||
             '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR) ||
             '.0.1 ref ' || CAST(doc_id * 7919 + 1000000 AS VARCHAR) AS text
           FROM documents),
         r1 AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
             regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
               '<EMAIL>', 'g') AS text
           FROM src),
         r2 AS (
           SELECT doc_id, n_email,
             CAST(len(regexp_extract_all(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS INTEGER) AS n_ip,
             regexp_replace(text,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '<IP>', 'g') AS text
           FROM r1),
         r3 AS (
           SELECT doc_id, n_email, n_ip,
             CAST(len(regexp_extract_all(text, '[0-9]{7,}')) AS INTEGER) AS n_number,
             regexp_replace(text, '[0-9]{7,}', '<NUM>', 'g') AS text
           FROM r2)
         SELECT doc_id, text, n_email, n_ip, n_number,
                n_email + n_ip + n_number AS n_redactions
         FROM r3 ORDER BY doc_id""",

    // Priority sampling replay: u is the first 8 md5 hex digits as an
    // exact-integer double (positional fold against exact powers of 16 —
    // no pow()), priority ONE IEEE division; top-100 by (priority DESC, id).
    "q116_priority_sample" ->
      """WITH u AS (
           SELECT doc_id, n_chars,
             list_sum(list_transform(range(1, 9), i ->
               CAST(strpos('0123456789abcdef',
                 substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INTEGER), 1)) - 1 AS DOUBLE)
               * ([268435456.0, 16777216.0, 1048576.0, 65536.0,
                   4096.0, 256.0, 16.0, 1.0])[CAST(i AS INTEGER)])) AS uhex
           FROM documents
           WHERE n_chars IS NOT NULL AND n_chars > 0),
         p AS (
           SELECT doc_id, n_chars,
             CAST(n_chars AS DOUBLE) / (uhex + 1.0) AS priority
           FROM u),
         top AS (
           SELECT doc_id, n_chars FROM p
           ORDER BY priority DESC, doc_id LIMIT 100)
         SELECT doc_id, n_chars FROM top ORDER BY doc_id""",

    // q51's recursive closure for the cluster representative, then exactly
    // the q68 md5 range cut applied to the representative instead of the id.
    "q117_cluster_split" ->
      s"""WITH RECURSIVE $minhashVerifiedCtes,
         pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
         edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                   UNION SELECT id_b, id_a FROM pairs),
         nodes AS (SELECT DISTINCT src AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM nodes
           UNION
           SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
         rep AS (
           SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_rep
           FROM documents d LEFT JOIN clusters c ON c.id = d.doc_id)
         SELECT doc_id, split_rep,
                CASE WHEN substr(md5(CAST(split_rep AS VARCHAR)), 1, 3) < '19a'
                       THEN 'test'
                     WHEN substr(md5(CAST(split_rep AS VARCHAR)), 1, 3) < '334'
                       THEN 'validation'
                     ELSE 'train' END AS split
         FROM rep ORDER BY doc_id""",

    // MMR greedy loop unrolled: unit vectors, 6-dp relevance, top-8
    // candidates, then four argmax stages — each scores the not-yet-
    // selected candidates against the accumulated picks (max of 6-dp
    // pairwise sims), λ = 0.5 so 1−λ is decimal-exact in IEEE.
    "q118_mmr_rerank" ->
      """WITH qy AS (
           SELECT vec_id AS query_id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
           FROM embeddings WHERE vec_id < 4),
         qu AS (
           SELECT query_id,
             CASE WHEN n > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / n)
                  ELSE list_transform(embedding, x -> 0.0) END AS quv
           FROM qy),
         ey AS (
           SELECT vec_id AS id, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
           FROM embeddings),
         eu AS (
           SELECT id,
             CASE WHEN n > 0 THEN list_transform(embedding, x -> CAST(x AS DOUBLE) / n)
                  ELSE list_transform(embedding, x -> 0.0) END AS uv
           FROM ey),
         rel AS (
           SELECT q.query_id, e.id, e.uv,
             round(list_sum(list_transform(range(1, len(e.uv) + 1),
               i -> e.uv[i] * q.quv[i])), 6) AS rel
           FROM eu e CROSS JOIN qu q),
         cand AS (
           SELECT query_id, id, uv, rel FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY rel DESC, id) AS r
             FROM rel) WHERE r <= 8),
         p1 AS (
           SELECT query_id, id, rel, uv, score, 1 AS mmr_rank FROM (
             SELECT *, round(0.5 * rel, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(0.5 * rel, 6) DESC, id) AS r
             FROM cand) WHERE r = 1),
         s1 AS (SELECT query_id, id, uv FROM p1),
         r2 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s1 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s1 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p2 AS (
           SELECT query_id, id, rel, uv, score, 2 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r2) WHERE r = 1),
         s2 AS (SELECT * FROM s1 UNION ALL SELECT query_id, id, uv FROM p2),
         r3 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s2 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s2 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p3 AS (
           SELECT query_id, id, rel, uv, score, 3 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r3) WHERE r = 1),
         s3 AS (SELECT * FROM s2 UNION ALL SELECT query_id, id, uv FROM p3),
         r4 AS (
           SELECT c.query_id, c.id, c.rel, c.uv,
             round(0.5 * c.rel - 0.5 * max(round(list_sum(list_transform(
               range(1, len(c.uv) + 1), i -> c.uv[i] * s.uv[i])), 6)), 6) AS score
           FROM cand c JOIN s3 s ON s.query_id = c.query_id
           WHERE NOT EXISTS (SELECT 1 FROM s3 x
                             WHERE x.query_id = c.query_id AND x.id = c.id)
           GROUP BY c.query_id, c.id, c.rel, c.uv),
         p4 AS (
           SELECT query_id, id, rel, uv, score, 4 AS mmr_rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, id) AS r
             FROM r4) WHERE r = 1),
         sel AS (
           SELECT query_id, id, rel, score, mmr_rank FROM p1
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p2
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p3
           UNION ALL SELECT query_id, id, rel, score, mmr_rank FROM p4)
         SELECT query_id, id AS vec_id, rel AS cosine_sim, score AS mmr_score,
                CAST(mmr_rank AS BIGINT) AS mmr_rank
         FROM sel ORDER BY query_id, mmr_rank""",

    // SCD2 via the same two windows: change-detect lag (null-safe
    // IS DISTINCT FROM ≡ Spark's !<=>), then lead/row_number over the
    // kept rows ordered by (valid_from, event_id).
    "q122_scd2_build" ->
      """WITH src AS (
           SELECT user_id, ts, event_id,
                  CAST(floor(value / 10) AS BIGINT) AS tier
           FROM events WHERE event_type = 'view'),
         chg AS (
           SELECT *, tier IS DISTINCT FROM
               lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS is_chg
           FROM src),
         kept AS (
           SELECT user_id, tier, ts AS valid_from, event_id
           FROM chg WHERE is_chg)
         SELECT user_id, tier, valid_from,
                lead(valid_from) OVER w AS valid_to,
                CAST(row_number() OVER w AS INT) AS version
         FROM kept
         WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
         ORDER BY user_id, version""",

    // Streaming SCD2 sink = the batch build's CLOSED versions.
    "q127_streaming_scd2" ->
      """WITH src AS (
           SELECT user_id, ts, event_id,
                  CAST(floor(value / 10) AS BIGINT) AS tier
           FROM events WHERE event_type = 'view'),
         chg AS (
           SELECT *, tier IS DISTINCT FROM
               lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS is_chg
           FROM src),
         kept AS (
           SELECT user_id, tier, ts AS valid_from, event_id
           FROM chg WHERE is_chg),
         ver AS (
           SELECT user_id, tier, valid_from,
                  lead(valid_from) OVER w AS valid_to,
                  CAST(row_number() OVER w AS INT) AS version
           FROM kept
           WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id))
         SELECT * FROM ver WHERE valid_to IS NOT NULL
         ORDER BY user_id, version""",

    // Chained-min funnel: s_i = each user's first step-i event strictly
    // after their matched step-(i-1) event — provably the greedy
    // first-match chain funnelReport folds per user.
    "q123_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id < 3000),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                      (SELECT count(*) FROM s2) AS n2,
                      (SELECT count(*) FROM s3) AS n3)
         SELECT * FROM (
           SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
                  round(n1 / CAST(n1 AS DOUBLE), 6) AS frac_of_first FROM n
           UNION ALL
           SELECT 2, 'click', n2, round(n2 / CAST(n1 AS DOUBLE), 6) FROM n
           UNION ALL
           SELECT 3, 'purchase', n3, round(n3 / CAST(n1 AS DOUBLE), 6) FROM n)
         ORDER BY step""",

    // Streaming funnel drains to the same report as the batch q123 —
    // one oracle serves both (the q22/q25 pairing, applied to funnels).
    "q125_streaming_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id < 3000),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                      (SELECT count(*) FROM s2) AS n2,
                      (SELECT count(*) FROM s3) AS n3)
         SELECT * FROM (
           SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
                  round(n1 / CAST(n1 AS DOUBLE), 6) AS frac_of_first FROM n
           UNION ALL
           SELECT 2, 'click', n2, round(n2 / CAST(n1 AS DOUBLE), 6) FROM n
           UNION ALL
           SELECT 3, 'purchase', n3, round(n3 / CAST(n1 AS DOUBLE), 6) FROM n)
         ORDER BY step""",

    // Streaming cohort state drains to the same triangle as batch q124.
    "q126_streaming_cohort" ->
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events WHERE event_id % 7 = 0),
         pu AS (SELECT user_id, min(wk) AS cohort_week
                FROM ev GROUP BY user_id),
         aw AS (SELECT DISTINCT e.user_id, p.cohort_week, e.wk AS active_week
                FROM ev e JOIN pu p USING (user_id))
         SELECT cohort_week,
                CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_offset,
                count(*) AS n_users
         FROM aw GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // Cohort week = Monday-truncated first-event week as a DATE; offsets are
    // integer-exact day differences over 7 (weeks align, so always a
    // multiple of 7).
    "q124_cohort_retention" ->
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events WHERE event_id % 7 = 0),
         pu AS (SELECT user_id, min(wk) AS cohort_week
                FROM ev GROUP BY user_id),
         aw AS (SELECT DISTINCT e.user_id, p.cohort_week, e.wk AS active_week
                FROM ev e JOIN pu p USING (user_id))
         SELECT cohort_week,
                CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_offset,
                count(*) AS n_users
         FROM aw GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // Truth = exact Jaccard over every pair sharing >= 1 shingle (inverted
    // index, NO df cut — a capped index would inflate recall); candidates =
    // q16's banding CTE. Same rounding/NULL conventions as the Spark side.
    "q128_lsh_quality_sweep" ->
      s"""WITH $minhashBandedCtes,
         cand AS (
           SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
         inv AS (SELECT doc_id, unnest(sh) AS g FROM s),
         common AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
           FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         sizes AS (SELECT doc_id, len(sh) AS n FROM s),
         truth AS (
           SELECT id_a, id_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j
           FROM common JOIN sizes sa ON sa.doc_id = id_a
                       JOIN sizes sb ON sb.doc_id = id_b),
         th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8]::DOUBLE[]) AS threshold),
         tr AS (SELECT th.threshold, t2.id_a, t2.id_b
                FROM th JOIN truth t2 ON t2.j >= th.threshold),
         ntrue AS (SELECT threshold, count(*) AS n_true FROM tr GROUP BY 1),
         tps AS (SELECT threshold, count(*) AS tp
                 FROM tr JOIN cand USING (id_a, id_b) GROUP BY 1),
         nc AS (SELECT count(*) AS n_cand FROM cand)
         SELECT th.threshold,
                coalesce(ntrue.n_true, 0) AS n_true,
                nc.n_cand AS n_cand,
                coalesce(tps.tp, 0) AS tp,
                CASE WHEN nc.n_cand = 0 THEN NULL
                     ELSE round(CAST(coalesce(tps.tp, 0) AS DOUBLE) / nc.n_cand, 6)
                END AS prec,
                CASE WHEN coalesce(ntrue.n_true, 0) = 0 THEN NULL
                     ELSE round(CAST(coalesce(tps.tp, 0) AS DOUBLE) / ntrue.n_true, 6)
                END AS rec
         FROM th LEFT JOIN ntrue USING (threshold) LEFT JOIN tps USING (threshold)
         CROSS JOIN nc
         ORDER BY threshold""",

    // PSI replay: same fixed buckets, same ½-count continuity correction
    // ((n + 0.5) / (N + 0.5·B), B = 6), psi over the UNROUNDED fractions.
    "q129_drift_report" ->
      """WITH e(bucket, lo, hi) AS (VALUES
           (0, '-infinity'::DOUBLE, 100.0::DOUBLE), (1, 100.0::DOUBLE, 200.0::DOUBLE),
           (2, 200.0::DOUBLE, 400.0::DOUBLE), (3, 400.0::DOUBLE, 800.0::DOUBLE),
           (4, 800.0::DOUBLE, 1600.0::DOUBLE), (5, 1600.0::DOUBLE, 'infinity'::DOUBLE)),
         bb AS (SELECT doc_id, source,
             CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1
                  WHEN n_chars < 400 THEN 2 WHEN n_chars < 800 THEN 3
                  WHEN n_chars < 1600 THEN 4 ELSE 5 END AS bucket
           FROM documents WHERE source IN ('src0', 'src3')),
         rc AS (SELECT bucket, count(*) AS ref_n FROM bb
                WHERE source = 'src0' GROUP BY bucket),
         cc AS (SELECT bucket, count(*) AS cur_n FROM bb
                WHERE source = 'src3' GROUP BY bucket),
         tot AS (SELECT
             (SELECT count(*) FROM bb WHERE source = 'src0') AS rn,
             (SELECT count(*) FROM bb WHERE source = 'src3') AS cn)
         SELECT e.bucket, e.lo, e.hi,
                coalesce(rc.ref_n, 0) AS ref_n,
                coalesce(cc.cur_n, 0) AS cur_n,
                round((coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0), 6) AS ref_frac,
                round((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0), 6) AS cur_frac,
                round(((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0) -
                       (coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0)) *
                      ln(((coalesce(cc.cur_n, 0) + 0.5) / (tot.cn + 3.0)) /
                         ((coalesce(rc.ref_n, 0) + 0.5) / (tot.rn + 3.0))), 6)
                  AS psi_term
         FROM e LEFT JOIN rc ON rc.bucket = e.bucket
                LEFT JOIN cc ON cc.bucket = e.bucket
         CROSS JOIN tot
         ORDER BY e.bucket""",

    // Z-order replay: identical integer arithmetic (min-max scale via
    // integral division, unrolled 8-bit Morton interleave, equal-width
    // key-range buckets) — bit-for-bit, no floats anywhere.
    "q130_zorder_layout" -> {
      val interleave = (0 until 8).map(i =>
        s"((((sa >> $i) & 1) << ${2 * i + 1}) | (((sb >> $i) & 1) << ${2 * i}))")
        .mkString(" | ")
      s"""WITH bounds AS (
           SELECT min(l_partkey) AS alo, max(l_partkey) AS ahi,
                  min(l_suppkey) AS blo, max(l_suppkey) AS bhi FROM lineitem),
         s AS (
           SELECT l_partkey AS a, l_suppkey AS b,
                  ((l_partkey - alo) * 255) // greatest(ahi - alo, 1) AS sa,
                  ((l_suppkey - blo) * 255) // greatest(bhi - blo, 1) AS sb
           FROM lineitem, bounds),
         z AS (SELECT a, b, ($interleave) AS z FROM s),
         k AS (SELECT a, b, (z * 16) // 65536 AS bucket FROM z)
         SELECT bucket, count(*) AS n, min(a) AS min_a, max(a) AS max_a,
                min(b) AS min_b, max(b) AS max_b,
                max(a) - min(a) AS span_a, max(b) - min(b) AS span_b
         FROM k GROUP BY bucket ORDER BY bucket"""
    },

    // Bigram-LM replay: same model counts, same interpolation arithmetic
    // (λ = 0.9 exactly as written; 1−λ interpolated from the identical
    // Scala double so both engines multiply the same IEEE literal), fold
    // over the (w1,w2)-sorted term list (q84/q86 discipline).
    "q131_bigram_lm_quality" ->
      s"""WITH rt AS (SELECT $toks AS t FROM documents WHERE source = 'src0'),
         runi AS (SELECT unnest(t) AS tok FROM rt),
         uni AS (SELECT tok, count(*) AS cu FROM runi GROUP BY tok),
         norm AS (SELECT sum(cu) AS total, count(*) AS vsz FROM uni),
         rbg AS (SELECT unnest(list_transform(range(1, len(t)),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM rt),
         cp AS (SELECT bg.w1 AS w1, bg.w2 AS w2, count(*) AS c12
                FROM rbg GROUP BY 1, 2),
         cl AS (SELECT bg.w1 AS w1, count(*) AS c1 FROM rbg GROUP BY 1),
         dt AS (SELECT doc_id, $toks AS t FROM documents),
         dbg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
             i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS bg FROM dt),
         dcnt AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, count(*) AS nd
                  FROM dbg GROUP BY 1, 2, 3),
         terms AS (SELECT d.doc_id, d.w1, d.w2, d.nd,
                     coalesce(cp.c12, 0) AS c12, coalesce(cl.c1, 0) AS c1,
                     coalesce(uni.cu, 0) AS cu
                   FROM dcnt d LEFT JOIN cp ON d.w1 = cp.w1 AND d.w2 = cp.w2
                               LEFT JOIN cl ON d.w1 = cl.w1
                               LEFT JOIN uni ON d.w2 = uni.tok),
         agg AS (SELECT doc_id, sum(nd) AS n_bigrams,
                   list_sort(list(struct_pack(w1 := w1, w2 := w2, nd := nd,
                     c12 := c12, c1 := c1, cu := cu))) AS tc
                 FROM terms GROUP BY doc_id),
         scored AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
             round(-list_sum(list_transform(tc, x ->
               x.nd * log2(CASE WHEN x.c1 > 0
                                THEN 0.9 * CAST(x.c12 AS DOUBLE) / x.c1
                                ELSE 0.0 END
                           + ${1.0 - 0.9} * (x.cu + 1.0)
                             / (norm.total + norm.vsz))))
               / n_bigrams, 6) AS bits_per_bigram
            FROM agg, norm)
         SELECT d.doc_id, coalesce(s.n_bigrams, 0) AS n_bigrams,
                s.bits_per_bigram,
                CASE WHEN s.bits_per_bigram IS NULL THEN 'unscored'
                     WHEN s.bits_per_bigram < 5.2 THEN 'head'
                     WHEN s.bits_per_bigram < 5.8 THEN 'middle'
                     ELSE 'tail' END AS bucket
         FROM documents d LEFT JOIN scored s USING (doc_id)
         ORDER BY d.doc_id""",

    // Late-data replay: same md5 arrival jitter, ONE global running
    // prev-max window (the oracle affords what the engine must not) —
    // gating that the distributed prefix scan is exact.
    "q132_late_data_audit" ->
      """WITH m AS (
           SELECT event_id, ts, epoch_us(ts) AS tsu,
                  epoch_us(ts) +
                    (CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
                      AS BIGINT) * 1800000000) // 65536 AS arr
           FROM events),
         w AS (SELECT ts, tsu,
                 max(tsu) OVER (ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
               FROM m)
         SELECT date_trunc('hour', ts) AS window_start, count(*) AS n,
                CAST(sum(CASE WHEN wm IS NOT NULL AND tsu < wm - 600000000
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
                round(CAST(sum(CASE WHEN wm IS NOT NULL AND tsu < wm - 600000000
                                    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
                  AS late_frac,
                max(CASE WHEN wm IS NOT NULL AND wm > tsu THEN wm - tsu END)
                  AS max_lag_us
         FROM w GROUP BY 1 ORDER BY 1""",

    // Fertility replay: q119's sentinel-replace encode per doc, then one
    // per-language aggregate; ratios are single divisions of exact BIGINT
    // sums (no fold-order float hazard to engineer around).
    "q133_tokenizer_fertility" ->
      s"""WITH base AS (
           SELECT doc_id, lang, n_chars, $toks AS tk FROM documents),
         enc AS (
           SELECT doc_id,
             flatten(list_transform(tk, w -> $bpeSentinelDecode)) AS bt
           FROM base),
         j AS (
           SELECT b.lang, len(b.tk) AS nw, b.n_chars AS nc, len(e.bt) AS nb
           FROM base b JOIN enc e USING (doc_id))
         SELECT lang, count(*) AS n_docs,
                CAST(sum(nw) AS BIGINT) AS n_words,
                CAST(sum(nc) AS BIGINT) AS n_chars,
                CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
                CASE WHEN sum(nw) > 0
                     THEN round(CAST(sum(nb) AS DOUBLE) / sum(nw), 6) END
                  AS fertility,
                CASE WHEN sum(nb) > 0
                     THEN round(CAST(sum(nc) AS DOUBLE) / sum(nb), 6) END
                  AS chars_per_token
         FROM j GROUP BY lang ORDER BY lang""",

    // Span-corruption replay: every mask decision re-derived from the same
    // md5(id:block) digits; block slices, sentinel splicing, and the
    // block-sorted reassembly are pure list arithmetic in both engines.
    "q134_span_corruption" ->
      s"""WITH base AS (SELECT doc_id, $toks AS t FROM documents),
         blk AS (SELECT doc_id, t, unnest(range(0, (len(t) + 3) // 4)) AS b
                 FROM base),
         det AS (SELECT doc_id, b, t[(b*4+1):(b*4+4)] AS bt,
                   CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
                     || CAST(b AS VARCHAR)), 1, 4)) AS BIGINT) AS h
                 FROM blk),
         p2 AS (SELECT doc_id, b, len(bt) AS nt,
             CASE WHEN h % 4096 < 1024
                  THEN ['<extra_id_' || CAST(b AS VARCHAR) || '>']
                       || bt[(1 + (h // 4096) % 3 + 1):len(bt)]
                  ELSE bt END AS inp,
             CASE WHEN h % 4096 < 1024
                  THEN ['<extra_id_' || CAST(b AS VARCHAR) || '>']
                       || bt[1:(1 + (h // 4096) % 3)]
                  ELSE []::VARCHAR[] END AS tgt,
             CASE WHEN h % 4096 < 1024
                  THEN least(1 + (h // 4096) % 3, len(bt)) ELSE 0 END AS nm
           FROM det),
         agg AS (SELECT doc_id, CAST(sum(nt) AS BIGINT) AS n_tokens,
                   CAST(sum(nm) AS BIGINT) AS n_masked_tokens,
                   flatten(list_transform(list_sort(list(
                     struct_pack(b := b, inp := inp))), x -> x.inp)) AS inps,
                   flatten(list_transform(list_sort(list(
                     struct_pack(b := b, tgt := tgt))), x -> x.tgt)) AS tgts
                 FROM p2 GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_tokens, 0) AS n_tokens,
                coalesce(a.n_masked_tokens, 0) AS n_masked_tokens,
                coalesce(array_to_string(a.inps, ' '), '') AS input_text,
                coalesce(array_to_string(a.tgts, ' '), '') AS target_text
         FROM documents d LEFT JOIN agg a USING (doc_id)
         ORDER BY d.doc_id""",

    // nDCG replay: q19's cosine arithmetic per query, direct non-self
    // ranking (the k+1-then-drop-self pool always contains the self hit,
    // so the two formulations coincide), both DCG folds in rank order.
    "q135_retrieval_ndcg" ->
      """WITH q AS (
           SELECT vec_id AS query_id, embedding AS qv, label AS ql,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS qn
           FROM embeddings WHERE vec_id < 8),
         e AS (
           SELECT vec_id, label, embedding,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS en
           FROM embeddings),
         s AS (
           SELECT q.query_id, q.ql, e.vec_id, e.label,
             CASE WHEN e.en * q.qn > 0 THEN
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (e.en * q.qn)
             ELSE 0.0 END AS sim
           FROM e, q WHERE e.vec_id <> q.query_id),
         r AS (SELECT query_id, ql, label,
                 row_number() OVER (PARTITION BY query_id
                   ORDER BY sim DESC, vec_id) AS rr
               FROM s),
         top AS (SELECT query_id, ql, rr,
                   CAST(label = ql AS BIGINT) AS g FROM r WHERE rr <= 10),
         lc AS (SELECT label AS ql, count(*) AS nl FROM embeddings
                GROUP BY label),
         f AS (SELECT query_id, ql, CAST(sum(g) AS BIGINT) AS hits,
                 list_sort(list(struct_pack(r := rr, g := g))) AS rg
               FROM top GROUP BY query_id, ql),
         d AS (SELECT query_id, coalesce(lc.nl, 1) - 1 AS n_rel, hits,
                 list_sum(list_transform(rg,
                   x -> CAST(x.g AS DOUBLE) / log2(x.r + 1))) AS dcg_raw,
                 coalesce(list_sum(list_transform(
                   range(1, least(10, coalesce(lc.nl, 1) - 1) + 1),
                   r -> 1.0 / log2(r + 1))), 0.0) AS idcg_raw
               FROM f LEFT JOIN lc USING (ql))
         SELECT query_id, n_rel, hits,
                round(dcg_raw, 6) AS dcg, round(idcg_raw, 6) AS idcg,
                CASE WHEN idcg_raw > 0 THEN round(dcg_raw / idcg_raw, 6) END
                  AS ndcg
         FROM d ORDER BY query_id""",

    // Budget-prefix replay: the oracle affords the single global running
    // sum the engine decomposes; identical md5 order, identical exclusive
    // cumulative counts, identical admission predicate.
    "q136_budget_prefix" ->
      s"""WITH t AS (
           SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok,
                  md5(CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         w AS (
           SELECT doc_id, n_tok,
             CAST(coalesce(sum(n_tok) OVER (ORDER BY k, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
           FROM t)
         SELECT doc_id, n_tok, cum_before
         FROM w WHERE cum_before < 8000
         ORDER BY cum_before, doc_id""",

    // Water-filling replay: the same three unrolled redistribution rounds
    // over the source-sorted stats list — every float fold in sorted
    // order, every literal cast to DOUBLE (DuckDB parses bare decimals as
    // DECIMAL, which would drift from Spark's double arithmetic).
    "q137_mixture_plan" -> {
      val rounds = (1 to 3).map { i =>
        val prev = if (i == 1) "s0" else s"s${i - 1}"
        s""",
         a$i AS (SELECT st,
             list_sum(list_transform(st, x ->
               CASE WHEN NOT x.ex THEN x.w ELSE 0.0::DOUBLE END)) AS wsum,
             CAST(10000.0 AS DOUBLE) -
               list_sum(list_transform(st, x -> x.take)) AS rem
           FROM $prev),
         s$i AS (SELECT list_transform(st, x -> struct_pack(
             s := x.s, cap := x.cap, w := x.w,
             take := CASE WHEN NOT x.ex AND wsum > 0 AND rem > 0
                          THEN least(x.cap, x.take + rem * x.w / wsum)
                          ELSE x.take END,
             ex := (CASE WHEN NOT x.ex AND wsum > 0 AND rem > 0
                         THEN least(x.cap, x.take + rem * x.w / wsum)
                         ELSE x.take END) >= x.cap)) AS st
           FROM a$i)"""
      }.mkString
      s"""WITH stats AS (
           SELECT source, CAST(sum(len($toks)) AS BIGINT) AS tokens,
             CAST(CASE source WHEN 'src0' THEN 0.30 WHEN 'src1' THEN 0.20
                  WHEN 'src2' THEN 0.15 WHEN 'src3' THEN 0.10
                  ELSE 0.015625 END AS DOUBLE) AS w
           FROM documents GROUP BY source),
         one AS (SELECT list_sort(list(struct_pack(s := source,
             cap := CAST(tokens AS DOUBLE), w := w))) AS xs FROM stats),
         s0 AS (SELECT list_transform(xs, x -> struct_pack(s := x.s,
             cap := x.cap, w := x.w, take := 0.0::DOUBLE,
             ex := x.cap <= 0.0)) AS st FROM one)$rounds,
         ex3 AS (SELECT unnest(st) AS x FROM s3)
         SELECT x.s AS source, CAST(x.cap AS BIGINT) AS tokens,
                x.w AS weight, round(x.take, 6) AS allocated,
                CASE WHEN x.cap > 0 THEN round(x.take / x.cap, 6) END AS rate,
                x.ex AS exhausted
         FROM ex3 ORDER BY source"""
    },

    // Sliding-window replay: each event expands to the slide-aligned
    // window starts s with s <= ts < s + length (Spark's epoch-aligned
    // window() semantics: k from (tsu-len)//slide + 1, strict because an
    // event at exactly s+len is outside [s, s+len)).
    "q138_sliding_window" ->
      """WITH m AS (SELECT epoch_us(ts) AS tsu, event_type, value
                    FROM events),
         w AS (SELECT event_type, value,
                 unnest(range((tsu - 3600000000) // 900000000 + 1,
                              tsu // 900000000 + 1)) AS k
               FROM m)
         SELECT make_timestamp(k * 900000000) AS window_start,
                make_timestamp(k * 900000000 + 3600000000) AS window_end,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",

    // ECDF replay: same fixed buckets, exclusive cumulative over the
    // B-row bucket frame, same interpolation (midpoint in the unbounded
    // end buckets, frac 0 exactly on an edge).
    "q139_quantile_normalize" ->
      """WITH b AS (
           SELECT doc_id, n_chars, CAST(n_chars AS DOUBLE) AS v,
             CASE WHEN n_chars < 100 THEN 0 WHEN n_chars < 200 THEN 1
                  WHEN n_chars < 400 THEN 2 WHEN n_chars < 800 THEN 3
                  WHEN n_chars < 1600 THEN 4 ELSE 5 END AS bucket
           FROM documents),
         c AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
         g AS (SELECT bucket, n,
                 CAST(coalesce(sum(n) OVER (ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb,
                 CAST(sum(n) OVER () AS BIGINT) AS nn
               FROM c),
         e(bucket, lo, hi) AS (VALUES
           (0, '-infinity'::DOUBLE, 100.0::DOUBLE),
           (1, 100.0::DOUBLE, 200.0::DOUBLE),
           (2, 200.0::DOUBLE, 400.0::DOUBLE),
           (3, 400.0::DOUBLE, 800.0::DOUBLE),
           (4, 800.0::DOUBLE, 1600.0::DOUBLE),
           (5, 1600.0::DOUBLE, 'infinity'::DOUBLE))
         SELECT b.doc_id, b.n_chars, b.bucket,
                CAST(floor((g.cb + CASE WHEN isinf(e.lo) OR isinf(e.hi)
                                        THEN 0.5
                                        ELSE (b.v - e.lo) / (e.hi - e.lo) END
                            * g.n) / g.nn * 1000000.0 + 0.5) AS BIGINT)
                  AS pct_ppm
         FROM b JOIN g USING (bucket) JOIN e USING (bucket)
         ORDER BY b.doc_id""",

    // Stream ≡ batch: the sliding windows accumulated by the streaming
    // query equal the q138 batch derivation.
    "q140_streaming_sliding" ->
      """WITH m AS (SELECT epoch_us(ts) AS tsu, event_type, value
                    FROM events),
         w AS (SELECT event_type, value,
                 unnest(range((tsu - 3600000000) // 900000000 + 1,
                              tsu // 900000000 + 1)) AS k
               FROM m)
         SELECT make_timestamp(k * 900000000) AS window_start,
                make_timestamp(k * 900000000 + 3600000000) AS window_end,
                event_type, count(*) AS n_events,
                round(sum(value), 2) AS total_value
         FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""",

    // Novelty replay: same distinct word-3-grams both sides, anti join on
    // the raw grams (Spark joins md5 fingerprints of the same grams), the
    // q139 floor-ppm discipline for the ratio.
    "q141_novelty_report" ->
      s"""WITH d AS (SELECT doc_id, $toks AS tk FROM documents),
         dg AS (SELECT DISTINCT doc_id, gram FROM (
                  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3 + 2),
                    i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                      CAST(i + 2 AS INTEGER)), ' '))) AS gram
                  FROM d WHERE len(tk) >= 3)),
         rg AS (SELECT DISTINCT gram FROM (
                  SELECT unnest(list_transform(range(1, len(tk) - 3 + 2),
                    i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                      CAST(i + 2 AS INTEGER)), ' '))) AS gram
                  FROM d JOIN documents USING (doc_id)
                  WHERE source = 'src0' AND len(tk) >= 3)),
         sizes AS (SELECT doc_id, count(*) AS n_grams FROM dg GROUP BY doc_id),
         nv AS (SELECT doc_id, count(*) AS novel FROM dg
                ANTI JOIN rg USING (gram) GROUP BY doc_id)
         SELECT d2.doc_id, coalesce(s.n_grams, 0) AS n_grams,
                coalesce(nv.novel, 0) AS novel_grams,
                CAST(CASE WHEN coalesce(s.n_grams, 0) > 0 THEN
                  (coalesce(nv.novel, 0) // s.n_grams) * 1000000
                    + (2 * (coalesce(nv.novel, 0) % s.n_grams) * 1000000
                        + s.n_grams) // (2 * s.n_grams)
                END AS BIGINT) AS novelty_ppm
         FROM documents d2 LEFT JOIN sizes s USING (doc_id)
                           LEFT JOIN nv USING (doc_id)
         ORDER BY d2.doc_id""",

    // Rule-for-rule canonicalization replay over the same constructed
    // raw URLs (fixture expression mirrored from messyUrlSpark).
    "q142_url_canonicalize" ->
      s"""WITH $urlCanonDuckCtes
         SELECT doc_id, host, canonical FROM canon ORDER BY doc_id""",

    // Host aggregate over the canon CTE; exact integer-ppm collapse.
    "q143_host_report" ->
      s"""WITH $urlCanonDuckCtes
         SELECT host, count(*) AS n_urls,
                count(DISTINCT canonical) AS n_pages,
                (count(*) - count(DISTINCT canonical)) * 1000000 // count(*)
                  AS collapse_ppm
         FROM canon WHERE canonical IS NOT NULL
         GROUP BY host ORDER BY host""",

    // Host-cap replay: rank per host by the same (md5, id) priority and
    // keep the cap; the window-rank formulation is the oracle-side
    // equivalent of the bounded CollectTopK aggregate.
    "q146_host_cap_sample" ->
      s"""WITH $urlCanonDuckCtes,
         sel AS (SELECT doc_id, row_number() OVER (PARTITION BY host
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                 FROM canon WHERE host <> '')
         SELECT d.doc_id, d.source FROM documents d
         JOIN sel USING (doc_id) WHERE sel.rn <= 30
         ORDER BY d.doc_id""",

    // PageRank replay: identical multigraph, 3 unrolled iterations of
    // integer floor-division rank flow — exact BIGINT arithmetic, no
    // recursion needed for a fixed iteration count.
    "q147_host_pagerank" -> pageRankDuck,

    // Unigram-LM replay: same seed vocabulary, then each EM round as a
    // recursive-CTE Viterbi DP (integer micro-nat costs make the DP
    // exact in both engines; the longest-piece tie rule is the CASE
    // order l=4..1) + backtrack + piece recount with +1 smoothing.
    "q144_unigram_lm" ->
      s"""WITH RECURSIVE $unigramLmBodyCtes
         SELECT piece, n, cost_u FROM costs2 ORDER BY n DESC, piece""",

    // Encode pass under the trained (costs2) vocabulary: one more DP +
    // backtrack over the distinct words, then per-doc word/piece sums
    // joined back on the word key and the q139 integer-ppm ratios.
    "q145_unigram_fertility" ->
      s"""WITH RECURSIVE $unigramLmBodyCtes,
         ${unigramDpBt(3, "costs2")},
         wp AS (SELECT w, CAST(len(ps) AS BIGINT) AS np
                FROM bt3 WHERE pos = 0),
         docw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt FROM (
             SELECT doc_id, unnest($toks) AS w FROM documents)
           WHERE len(w) <= 30 GROUP BY doc_id, w),
         perdoc AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nw,
             CAST(sum(cnt * np) AS BIGINT) AS nt
           FROM docw JOIN wp USING (w) GROUP BY doc_id)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(coalesce(nw, 0)) AS BIGINT) AS n_words,
                CAST(sum(n_chars) AS BIGINT) AS n_chars,
                CAST(sum(coalesce(nt, 0)) AS BIGINT) AS n_tokens,
                CAST(CASE WHEN sum(coalesce(nw, 0)) > 0 THEN
                  (sum(coalesce(nt, 0)) // sum(coalesce(nw, 0))) * 1000000
                    + (2 * (sum(coalesce(nt, 0)) % sum(coalesce(nw, 0)))
                        * 1000000 + sum(coalesce(nw, 0)))
                      // (2 * sum(coalesce(nw, 0)))
                END AS BIGINT) AS fertility_ppm,
                CAST(CASE WHEN sum(coalesce(nt, 0)) > 0 THEN
                  (sum(n_chars) // sum(coalesce(nt, 0))) * 1000000
                    + (2 * (sum(n_chars) % sum(coalesce(nt, 0)))
                        * 1000000 + sum(coalesce(nt, 0)))
                      // (2 * sum(coalesce(nt, 0)))
                END AS BIGINT) AS chars_per_token_ppm
         FROM documents LEFT JOIN perdoc USING (doc_id)
         GROUP BY lang ORDER BY lang""",

    // Per-round corpus Viterbi cost: dp1/dp2 are the EM rounds' own
    // E-step DPs (models costs0/costs1); dp3/bt3 is the extra pass under
    // the final model, exactly as q145. Cost comes from the DP's final
    // cell, token totals from the backtrack's piece list — the Spark
    // side sums chosen-piece costs instead, equal by construction since
    // the DP minimum IS the chosen segmentation's cost sum.
    "q148_unigram_likelihood" ->
      s"""WITH RECURSIVE $unigramLmBodyCtes,
         ${unigramDpBt(3, "costs2")},
         ll AS (${Seq(1, 2, 3).map { k =>
           s"""SELECT ${k - 1} AS round,
              CAST(sum(d.freq * d.c[len(d.w) + 1]) AS BIGINT)
                AS corpus_cost_u,
              CAST(sum(d.freq * len(b.ps)) AS BIGINT) AS n_pieces
            FROM (SELECT * FROM dp$k WHERE j = len(w)) d
            JOIN (SELECT * FROM bt$k WHERE pos = 0) b USING (w)"""
         }.mkString("\n UNION ALL \n")})
         SELECT CAST(round AS INTEGER) AS round, corpus_cost_u, n_pieces
         FROM ll ORDER BY round""",

    // Drift report over q82's assignment: per-dim member sums quantized
    // to integer micro-units first (floor(v*1e6) as BIGINT — the
    // corpus-order fold is exact), then one fixed-order dot/norm per
    // cell against the pinned centroid, 1-ppm grid.
    "q149_ivf_drift" ->
      s"""WITH $ivfAssignCtes,
         mexp AS (SELECT centroid_id,
                         unnest(range(1, len(embedding) + 1)) AS i,
                         embedding
                  FROM assigned),
         mq AS (SELECT centroid_id, CAST(i AS INTEGER) AS i,
                  CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)
                    * 1000000) AS BIGINT) AS q
                FROM mexp),
         msum AS (SELECT centroid_id, i, CAST(sum(q) AS BIGINT) AS s
                  FROM mq GROUP BY centroid_id, i),
         mvec AS (SELECT centroid_id, list(CAST(s AS DOUBLE) ORDER BY i)
                    AS svec
                  FROM msum GROUP BY centroid_id),
         cnt AS (SELECT centroid_id, CAST(count(*) AS BIGINT) AS n_members
                 FROM assigned GROUP BY centroid_id)
         SELECT c.centroid_id,
                coalesce(cnt.n_members, 0) AS n_members,
                CASE WHEN mvec.svec IS NOT NULL
                       AND c.cn * sqrt(list_sum(list_transform(mvec.svec,
                             x -> x * x))) > 0
                  THEN CAST(floor((1 - list_sum(list_transform(
                         range(1, len(c.cvec) + 1),
                         j -> CAST(c.cvec[j] AS DOUBLE) * mvec.svec[j]))
                       / (c.cn * sqrt(list_sum(list_transform(mvec.svec,
                            x -> x * x))))) * 1000000 + 0.5) AS BIGINT)
                END AS drift_ppm
         FROM c LEFT JOIN cnt USING (centroid_id)
                LEFT JOIN mvec USING (centroid_id)
         ORDER BY centroid_id""",

    // Replays matrixToLong's unpivot as a VALUES cross join: every
    // (row × snp) cell emits one long row, blank/whitespace cells → NULL.
    "q150_matrix_unpivot" ->
      """WITH wide AS (
           SELECT n_name AS haplotype,
                  CASE WHEN n_nationkey % 7 = 0 THEN ''
                       ELSE substr(n_name, 2, 1) END AS rs1,
                  CASE WHEN n_nationkey % 5 = 0 THEN NULL
                       ELSE upper(substr(n_name, 1, 1)) END AS rs2,
                  'a' || CAST(n_nationkey % 4 AS VARCHAR) AS rs3
           FROM nation)
         SELECT 'g1' AS gene_name,
                haplotype AS haplotype_name,
                s.snp_id,
                CASE WHEN trim(CASE s.snp_id WHEN 'rs1' THEN rs1
                                             WHEN 'rs2' THEN rs2
                                             ELSE rs3 END) = '' THEN NULL
                     ELSE CASE s.snp_id WHEN 'rs1' THEN rs1
                                        WHEN 'rs2' THEN rs2
                                        ELSE rs3 END
                END AS allele
         FROM wide CROSS JOIN (VALUES ('rs1'), ('rs2'), ('rs3')) s(snp_id)
         ORDER BY haplotype_name, snp_id""",

    // identical to q57's oracle — the shuffle fallback must agree with
    // the broadcast default value-for-value
    "q151_strip_shuffle" ->
      """WITH segs AS (
           SELECT doc_id,
                  unnest(parts) AS seg,
                  unnest(range(1, len(parts) + 1)) AS pos
           FROM (SELECT doc_id, string_split(text, ' ') AS parts
                 FROM documents)),
         boiler AS (
           SELECT seg FROM (
             SELECT seg, count(*) AS df
             FROM (SELECT DISTINCT doc_id, seg FROM segs)
             GROUP BY seg)
           WHERE df >= (SELECT count(*) * 8 / 10 FROM documents)),
         clean AS (
           SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_clean
           FROM segs
           WHERE seg NOT IN (SELECT seg FROM boiler)
           GROUP BY doc_id)
         SELECT d.doc_id, coalesce(c.text_clean, '') AS text_clean
         FROM documents d LEFT JOIN clean c USING (doc_id)
         ORDER BY doc_id""",

    // identical to q04's oracle — the FROM-callable graft_pivot must
    // produce the Column API's pivot
    "q152_sql_pivot" ->
      """WITH r AS (
           SELECT l_orderkey, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn,
                  count(*) OVER (PARTITION BY l_orderkey) AS cnt
           FROM lineitem)
         SELECT l_orderkey,
                max(CASE WHEN rn = 1 THEN l_partkey END) AS part1,
                max(CASE WHEN rn = 2 THEN l_partkey END) AS part2
         FROM r WHERE cnt <= 2 GROUP BY l_orderkey
         ORDER BY l_orderkey""",

    // q56's gram machinery inverted to the SURVIVORS — the FROM-callable
    // graft_decontaminate must keep exactly the rows whose 6-gram match
    // count is below the threshold
    "q153_sql_decontaminate" ->
      s"""WITH corpus AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id >= 25),
         benchd AS (
           SELECT doc_id, $toks AS tk FROM documents WHERE doc_id < 25),
         cg AS (
           SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM corpus WHERE len(tk) >= 6)),
         bg AS (
           SELECT DISTINCT gram FROM (
             SELECT unnest(list_transform(range(1, len(tk) - 6 + 2),
               i -> array_to_string(list_slice(tk, CAST(i AS INTEGER),
                 CAST(i + 5 AS INTEGER)), ' '))) AS gram
             FROM benchd WHERE len(tk) >= 6)),
         m AS (
           SELECT doc_id, count(*) AS matched FROM cg
           JOIN bg USING (gram) GROUP BY doc_id)
         SELECT d.doc_id
         FROM documents d LEFT JOIN m USING (doc_id)
         WHERE d.doc_id >= 25 AND coalesce(m.matched, 0) < 1
         ORDER BY doc_id""",

    // identical to q16's oracle — the FROM-callable graft_minhash_pairs
    // must produce the Column API's verified pairs
    "q154_sql_minhash_pairs" ->
      s"""WITH $minhashVerifiedCtes
         SELECT id_a, id_b, round(jaccard, 6) AS jaccard
         FROM verified WHERE jaccard >= 0.5
         ORDER BY id_a, id_b""",

    // q14's grouping inverted to whole surviving rows — the FROM-callable
    // graft_exact_dedup keeps the first doc_id per normalized fingerprint
    "q155_sql_exact_dedup" ->
      """WITH f AS (
           SELECT *, row_number() OVER (
             PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
             ORDER BY doc_id) AS rn
           FROM documents)
         SELECT doc_id, text, lang, source, n_chars
         FROM f WHERE rn = 1 ORDER BY doc_id""",

    // identical to q123's oracle — the FROM-callable graft_funnel must
    // produce the chained-min funnel
    "q156_sql_funnel" ->
      """WITH ev AS (SELECT * FROM events WHERE event_id < 3000),
         s1 AS (SELECT user_id, min(ts) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, min(e.ts) AS t2
                FROM ev e JOIN s1 USING (user_id)
                WHERE e.event_type = 'click' AND e.ts > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, min(e.ts) AS t3
                FROM ev e JOIN s2 USING (user_id)
                WHERE e.event_type = 'purchase' AND e.ts > s2.t2
                GROUP BY e.user_id),
         n AS (SELECT (SELECT count(*) FROM s1) AS n1,
                      (SELECT count(*) FROM s2) AS n2,
                      (SELECT count(*) FROM s3) AS n3)
         SELECT * FROM (
           SELECT 1 AS step, 'signup' AS event_type, n1 AS n_users,
                  round(n1 / CAST(n1 AS DOUBLE), 6) AS frac_of_first FROM n
           UNION ALL
           SELECT 2, 'click', n2, round(n2 / CAST(n1 AS DOUBLE), 6) FROM n
           UNION ALL
           SELECT 3, 'purchase', n3, round(n3 / CAST(n1 AS DOUBLE), 6) FROM n)
         ORDER BY step""",

    // identical to q124's oracle — the FROM-callable graft_cohort_retention
    "q157_sql_cohort" ->
      """WITH ev AS (
           SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
           FROM events WHERE event_id % 7 = 0),
         pu AS (SELECT user_id, min(wk) AS cohort_week
                FROM ev GROUP BY user_id),
         aw AS (SELECT DISTINCT e.user_id, p.cohort_week, e.wk AS active_week
                FROM ev e JOIN pu p USING (user_id))
         SELECT cohort_week,
                CAST((active_week - cohort_week) / 7 AS BIGINT) AS week_offset,
                count(*) AS n_users
         FROM aw GROUP BY cohort_week, week_offset
         ORDER BY cohort_week, week_offset""",

    // identical to q122's oracle — the FROM-callable graft_scd2
    "q158_sql_scd2" ->
      """WITH src AS (
           SELECT user_id, ts, event_id,
                  CAST(floor(value / 10) AS BIGINT) AS tier
           FROM events WHERE event_type = 'view'),
         chg AS (
           SELECT *, tier IS DISTINCT FROM
               lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS is_chg
           FROM src),
         kept AS (
           SELECT user_id, tier, ts AS valid_from, event_id
           FROM chg WHERE is_chg)
         SELECT user_id, tier, valid_from,
                lead(valid_from) OVER w AS valid_to,
                CAST(row_number() OVER w AS INT) AS version
         FROM kept
         WINDOW w AS (PARTITION BY user_id ORDER BY valid_from, event_id)
         ORDER BY user_id, version""",

    // q107's BM25 replay with the TVF's query set and k = 5 — the
    // FROM-callable graft_bm25_topk must produce the identical chain
    "q159_sql_bm25_topk" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
           FROM t),
         terms AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl
           FROM (SELECT doc_id, unnest(tk) AS tok, len(tk) AS dl FROM t)
           GROUP BY doc_id, tok),
         q AS (SELECT * FROM (VALUES
             (0, 'stream shuffle join'), (1, 'parquet filter scan'),
             (2, 'window table merge'))
           AS v(query_id, qtext)),
         qt AS (SELECT query_id, unnest(list_distinct(list_filter(
             regexp_split_to_array(lower(qtext), '\\s+'), x -> len(x) > 0)))
             AS tok FROM q),
         dfq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM terms
           WHERE tok IN (SELECT tok FROM qt) GROUP BY tok),
         qi AS (SELECT query_id, tok,
             ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
           FROM qt JOIN dfq USING (tok), stats),
         contrib AS (SELECT query_id, doc_id, tok,
             idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1.0 - 0.75 +
               0.75 * CAST(dl AS DOUBLE) / avgdl)) AS s
           FROM terms JOIN qi USING (tok)),
         sc AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(t := tok, s := s))), x -> x.s)), 6)
               AS score
           FROM contrib GROUP BY query_id, doc_id),
         r AS (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id) AS rank
           FROM sc)
         SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
                CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 5
         ORDER BY query_id, rank""",

    // the two SQL rankings re-derived, then q121's tag-sorted RRF fold —
    // the FROM-callable graft_rrf_fuse
    "q160_sql_rrf_fuse" ->
      """WITH q AS (SELECT CAST(query_id AS BIGINT) AS query_id
             FROM (VALUES (0), (1), (2)) AS v(query_id)),
         d AS (SELECT doc_id, n_chars FROM documents WHERE doc_id < 400),
         ra AS (SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY (d.doc_id * 37 + q.query_id * 11) % 101, d.doc_id)
               AS rank
             FROM d CROSS JOIN q) WHERE rank <= 15),
         rb AS (SELECT query_id, doc_id, rank FROM (
             SELECT q.query_id, d.doc_id, row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY d.n_chars DESC, d.doc_id) AS rank
             FROM d CROSS JOIN q) WHERE rank <= 15),
         allr AS (
           SELECT query_id, doc_id, 'ka' AS src, rank FROM ra
           UNION ALL
           SELECT query_id, doc_id, 'kb' AS src, rank FROM rb),
         fused AS (SELECT query_id, doc_id,
             round(list_sum(list_transform(
               list_sort(list(struct_pack(s := src,
                 c := 1.0 / (60.0 + CAST(rank AS DOUBLE))))), x -> x.c)), 6)
               AS rrf_score
           FROM allr GROUP BY query_id, doc_id),
         ranked AS (SELECT query_id, doc_id, rrf_score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY rrf_score DESC, doc_id) AS rank
           FROM fused)
         SELECT query_id, doc_id, rrf_score, CAST(rank AS BIGINT) AS rank
         FROM ranked WHERE rank <= 10
         ORDER BY query_id, rank""")

  /** DuckDB replay of [[graft.ops.Graphs.pageRank]] on q147's derived
    * host multigraph: 3 unrolled iterations, all-BIGINT floor-division
    * arithmetic (`//` ≡ Spark's `div` for the positive values here).
    */
  private lazy val pageRankDuck: String = {
    def iterAt(k: Int): String = {
      val prev = s"r${k - 1}"
      s"""c$k AS (SELECT e2.dst AS node,
             CAST(sum(r.rank_u // d.outdeg) AS BIGINT) AS s
           FROM e2 JOIN $prev r ON r.node = e2.src
                   JOIN deg d ON d.src = e2.src
           GROUP BY e2.dst),
         r$k AS (SELECT n.node,
             (150000 * (SELECT init FROM params)) // 1000000
               + (850000 * coalesce(c$k.s, 0)) // 1000000 AS rank_u
           FROM nodes n LEFT JOIN c$k USING (node))"""
    }
    s"""WITH e AS (
           SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) AS src,
                  'h' || CAST((doc_id * 7 + 3) % 23 AS VARCHAR) AS dst
           FROM documents
           UNION ALL
           SELECT 'h' || CAST(doc_id % 23 AS VARCHAR),
                  'h' || CAST((doc_id * 5 + 1) % 23 AS VARCHAR)
           FROM documents),
         e2 AS (SELECT src, dst FROM e WHERE src <> dst),
         nodes AS (SELECT DISTINCT node FROM (
           SELECT src AS node FROM e2 UNION SELECT dst FROM e2)),
         deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
                 FROM e2 GROUP BY src),
         params AS (SELECT 1000000000000 // (SELECT count(*) FROM nodes)
                      AS init),
         r0 AS (SELECT node, CAST((SELECT init FROM params) AS BIGINT)
                  AS rank_u FROM nodes),
         ${iterAt(1)},
         ${iterAt(2)},
         ${iterAt(3)}
         SELECT node, rank_u FROM r3 ORDER BY rank_u DESC, node"""
  }

  /** One Viterbi DP + backtrack round as recursive CTEs `m$k`/`dp$k`/
    * `bt$k` reading piece costs from `prevCosts`: list accumulators for
    * best cost (`c`, BIGINT micro-nats — exact) and best piece length
    * (`bl`); the t4..t1 CASE order implements the longest-piece tie
    * rule. Shared by the q144 EM replay and the q145 encode pass.
    */
  private def unigramDpBt(k: Int, prevCosts: String): String = {
    val inf = "4611686018427387903"
    def term(l: Int) =
      s"""CASE WHEN $l <= d.j + 1 AND d.c[d.j + 2 - $l] < $inf
          THEN d.c[d.j + 2 - $l]
               + map_extract(m.mp, substr(d.w, d.j + 2 - $l, $l))[1]
          ELSE NULL END"""
    s"""m$k AS (SELECT MAP(list(piece), list(cost_u)) AS mp FROM $prevCosts),
       dp$k AS (
         SELECT w.w AS w, w.freq AS freq, 0 AS j,
                [CAST(0 AS BIGINT)] AS c, [0] AS bl
         FROM words w
         UNION ALL
         SELECT w, freq, j + 1, list_append(c, coalesce(bc, $inf)),
                list_append(bl, CASE WHEN bc IS NULL THEN 0
                  WHEN t4 = bc THEN 4 WHEN t3 = bc THEN 3
                  WHEN t2 = bc THEN 2 ELSE 1 END)
         FROM (
           SELECT d.w, d.freq, d.j, d.c, d.bl,
                  ${term(1)} AS t1, ${term(2)} AS t2,
                  ${term(3)} AS t3, ${term(4)} AS t4,
                  least(t1, t2, t3, t4) AS bc
           FROM dp$k d, m$k m WHERE d.j < len(d.w))),
       bt$k AS (
         SELECT w, freq, len(w) AS pos, CAST([] AS VARCHAR[]) AS ps, bl
         FROM dp$k WHERE j = len(w)
         UNION ALL
         SELECT w, freq, pos - bl[pos + 1],
                list_prepend(substr(w, pos - bl[pos + 1] + 1,
                  bl[pos + 1]), ps), bl
         FROM bt$k WHERE pos > 0 AND bl[pos + 1] > 0)"""
  }

  /** DuckDB replay of [[graft.ops.UnigramLm.train]] with q144's fixed
    * parameters (vocabSize 50, maxPieceLen 4, emIters 2, maxWordLen 30)
    * as a WITH-clause body ending in `costs2(piece, n, cost_u)`. Each EM
    * block: [[unigramDpBt]] → weighted piece recount → +1 smoothing →
    * re-quantized costs.
    */
  private lazy val unigramLmBodyCtes: String = {
    def emBlock(k: Int): String = {
      val prev = s"costs${k - 1}"
      s"""${unigramDpBt(k, prev)},
         counts$k AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS vn FROM (
             SELECT freq, unnest(ps) AS piece FROM bt$k WHERE pos = 0)
           GROUP BY piece),
         vocab$k AS (SELECT v.piece, coalesce(cc.vn, 0) + 1 AS n
           FROM $prev v LEFT JOIN counts$k cc USING (piece)),
         costs$k AS (SELECT piece, n,
             CAST(floor(-ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM vocab$k))
               * 1000000 + 0.5) AS BIGINT) AS cost_u
           FROM vocab$k)"""
    }
    s"""tok AS (SELECT unnest($toks) AS w FROM documents),
         words AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM tok
                   WHERE len(w) <= 30 GROUP BY w),
         subs AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS n FROM (
             SELECT freq,
               unnest(flatten(list_transform(generate_series(1, len(w)),
                 i -> list_transform(
                   generate_series(1, least(4, len(w) - i + 1)),
                   l -> substr(w, CAST(i AS INTEGER), CAST(l AS INTEGER))))))
               AS piece
             FROM words) GROUP BY piece),
         vocab0 AS (SELECT piece, n FROM subs WHERE len(piece) = 1
                    UNION ALL
                    SELECT piece, n FROM (
                      SELECT piece, n FROM subs WHERE len(piece) > 1
                      ORDER BY n DESC, piece LIMIT 50)),
         costs0 AS (SELECT piece, n,
             CAST(floor(-ln(CAST(n AS DOUBLE) / (SELECT sum(n) FROM vocab0))
               * 1000000 + 0.5) AS BIGINT) AS cost_u
           FROM vocab0),
         ${emBlock(1)},
         ${emBlock(2)}"""
  }

  /** DuckDB replay of [[graft.ops.Web.canonicalizeUrl]] (plus the messy-URL
    * fixture) as a WITH-clause body ending in `canon(doc_id, host,
    * canonical)`; shared by the q142/q143 oracles. Regex set restricted to
    * the Java∩RE2 dialect in exact-text form (`\A`/`\z` anchors +
    * DOTALL — bit-aligned with [[graft.ops.Web]]'s Column chain even for
    * newline-bearing URLs), all patterns anchored so first-match
    * `regexp_replace` equals Spark's replace-all.
    */
  private lazy val urlCanonDuckCtes: String = {
    val messyUrlDuck =
      """CASE CAST(doc_id % 5 AS INTEGER)
         WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.COM:80/Docs/'
           || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=2&a=1#frag'
         WHEN 1 THEN 'https://u:p@' || source || '.example.com:443/docs/'
           || CAST(doc_id AS VARCHAR)
         WHEN 2 THEN 'https://cdn.example.com/' || source || '/Page///?gclid='
           || CAST(doc_id AS VARCHAR)
         WHEN 3 THEN 'http://www.' || source
           || '.example.com:8080/path?ref=tw&z=9&y=8'
         ELSE '  https://' || source || '.example.com./docs?fbclid=1&Q='
           || CAST(doc_id AS VARCHAR) || '  '
         END"""
    s"""raw AS (SELECT doc_id, $messyUrlDuck AS url FROM documents),
         up AS (SELECT doc_id, trim(url) AS u FROM raw),
         parts AS (SELECT doc_id,
             lower(regexp_extract(u,
               '(?s)\\A([A-Za-z][A-Za-z0-9+.-]*)://.*\\z', 1)) AS scheme,
             lower(regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*\\z', 1))
               AS netloc,
             regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*).*\\z', 1)
               AS path,
             regexp_extract(u,
               '(?s)\\A[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\\?([^#]*).*\\z',
               1) AS query
           FROM up),
         hostp AS (SELECT *, regexp_replace(netloc, '\\A[^@]*@', '') AS noinfo
           FROM parts),
         hostq AS (SELECT *,
             regexp_replace(regexp_replace(regexp_replace(noinfo,
               ':[0-9]*\\z', ''), '\\A(www\\.)+', ''), '\\.+\\z', '')
               AS host,
             regexp_extract(noinfo, ':([0-9]+)\\z', 1) AS rawport
           FROM hostp),
         hostr AS (SELECT *,
             CASE WHEN rawport = '' THEN ''
                  WHEN regexp_replace(rawport, '\\A0+', '') = '' THEN '0'
                  ELSE regexp_replace(rawport, '\\A0+', '') END AS port
           FROM hostq),
         qkeep AS (SELECT *, coalesce(array_to_string(list_sort(list_filter(
             string_split(query, '&'),
             x -> len(x) > 0 AND NOT regexp_matches(
               lower(string_split(x, '=')[1]),
               '(?s)\\A(utm_.*|gclid|fbclid|msclkid|ref|mc_eid|igshid)\\z'))),
             '&'),
             '') AS kept
           FROM hostr),
         canon AS (SELECT doc_id, host,
             CASE WHEN scheme = '' OR host = '' THEN NULL
                  ELSE scheme || '://' || host
                    || CASE WHEN port <> ''
                          AND NOT ((scheme = 'http' AND port = '80')
                            OR (scheme = 'https' AND port = '443'))
                        THEN ':' || port ELSE '' END
                    || CASE WHEN regexp_replace(path, '/+\\z', '') = ''
                        THEN '/' ELSE regexp_replace(path, '/+\\z', '') END
                    || CASE WHEN kept = '' THEN ''
                        ELSE '?' || kept END
             END AS canonical
           FROM qkeep)"""
  }
}
