package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.LoadBench
import graft.ops.{GroupedRowsToColumns, RowOps, SetContainment, Upsert}
import graft.pipeline.{Pipeline, ReferenceTables}
import Query.t

/** The haplorec pipeline's operators: set containment, the genotype
  * pivot, upsert and blanking, variant explode, the inline hom+het fixture
  * job (U1/U2 calls through J4 recommendations), the reference ingest
  * normalizations, the stage graph, and the two load gates (q30/q31).
  */
object GenomicsQueries {

  lazy val queries: Seq[Query] = Seq(
    // J3/J4: set-containment join (relational division), subset direction
    Query("q02_containment_subset", (s, dir) => {
      val a = t(s, dir, "nation").join(t(s, dir, "region"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_nationkey"))
      val b = t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_nationkey").as("n_nationkey"))
        .distinct()
      SetContainment.selectWhereSubsetOf(a, b, Seq("n_nationkey"),
          Seq("r_name"), Seq("c_mktsegment"))
        .orderBy("r_name", "c_mktsegment")
    },
      """WITH a AS (SELECT r_name, n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey),
         b AS (SELECT DISTINCT c_mktsegment, c_nationkey AS n_nationkey FROM customer),
         inter AS (
           SELECT a.r_name, b.c_mktsegment, count(*) AS gc
           FROM b JOIN a USING (n_nationkey)
           GROUP BY a.r_name, b.c_mktsegment),
         sz AS (SELECT r_name, count(*) AS sa FROM a GROUP BY r_name)
         SELECT DISTINCT r_name, c_mktsegment
         FROM inter JOIN sz USING (r_name) WHERE gc = sa
         ORDER BY r_name, c_mktsegment"""),

    // J5: either-direction containment
    Query("q03_containment_either", (s, dir) => {
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
    },
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
         ORDER BY r_name, c_mktsegment"""),

    // R1/R2: grouped rows → columns pivot with bad-group routing
    Query("q04_pivot_pairs", (s, dir) => {
      import GroupedRowsToColumns._
      val (good, _) = GroupedRowsToColumns(
        t(s, dir, "lineitem"),
        groupBy = Seq("l_orderkey"),
        columnMap = Seq(
          Passthrough("l_orderkey", "l_orderkey"),
          Spread("l_partkey", Seq("part1", "part2"))),
        orderRowsBy = Seq("l_linenumber", "l_partkey"))
      good.orderBy("l_orderkey")
    },
      """WITH r AS (
           SELECT l_orderkey, l_partkey,
                  row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) AS rn,
                  count(*) OVER (PARTITION BY l_orderkey) AS cnt
           FROM lineitem)
         SELECT l_orderkey,
                max(CASE WHEN rn = 1 THEN l_partkey END) AS part1,
                max(CASE WHEN rn = 2 THEN l_partkey END) AS part2
         FROM r WHERE cnt <= 2 GROUP BY l_orderkey
         ORDER BY l_orderkey"""),

    // S9: upsert, discard mode
    Query("q05_upsert_discard", (s, dir) => {
      val c = t(s, dir, "customer")
      val existing = c.filter(col("c_custkey") % 2 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val incoming = c.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), upper(col("c_name")).as("c_name"), col("c_acctbal"))
      Upsert.discard(existing, incoming, Seq("c_custkey")).orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_custkey % 2 = 0
         UNION ALL
         SELECT c_custkey, upper(c_name) AS c_name, c_acctbal FROM customer
         WHERE c_custkey % 3 = 0 AND c_custkey % 2 <> 0
         ORDER BY c_custkey"""),

    // O6: one-pass duplicate-group blanking (report semantics)
    Query("q06_nodup_blank", (s, dir) => {
      RowOps.noDuplicates(
        t(s, dir, "orders")
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"),
        Seq(
          RowOps.DupGroup("g1", Seq("o_custkey"), Seq("o_custkey", "o_orderstatus")),
          RowOps.DupGroup("g2", Seq("o_orderstatus"), Seq("o_orderstatus", "o_orderpriority"))),
        ordering = Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH r AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS r1,
                  row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS r2
           FROM orders)
         SELECT o_orderkey,
                CASE WHEN r1 = 1 THEN o_custkey END AS o_custkey,
                CASE WHEN r1 = 1 OR r2 = 1 THEN o_orderstatus END AS o_orderstatus,
                CASE WHEN r2 = 1 THEN o_orderpriority END AS o_orderpriority
         FROM r ORDER BY o_orderkey"""),

    // S2: variant-file allele explode (codegen Generator path)
    Query("q07_variant_explode", (s, dir) => {
      val raw = t(s, dir, "part").select(
        concat(lit("snp"), col("p_partkey")).as("ASSAY_ID"),
        substring(col("p_name"), 1, 9999).substr(lit(1), col("p_partkey") % 4).as("GENOTYPE_ID"),
        concat(lit("p"), col("p_partkey") % 10).as("SAMPLE_ID"))
      graft.io.VariantReader.explodeVariants(raw)
        .orderBy("patient_id", "snp_id", "physical_chromosome", "allele")
    },
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
         ORDER BY patient_id, snp_id, physical_chromosome, allele"""),

    // U1: haplotype calling (hom path — SQL-expressible slice of the matrix probe)
    Query("q08_hom_gene_haplotype", (s, dir) => {
      fixtureStages(s)("geneHaplotype")
        .select("patient_id", "physical_chromosome", "gene_name", "haplotype_name")
        .orderBy("patient_id", "physical_chromosome")
    },
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
         ORDER BY patient_id, physical_chromosome"""),

    // U1: novel-haplotype taxonomy (unseen allele / unseen combination)
    Query("q09_hom_novel_haplotype", (s, dir) => {
      fixtureStages(s)("novelHaplotype")
        .select("patient_id", "physical_chromosome", "gene_name")
        .orderBy("patient_id", "physical_chromosome")
    },
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
         ORDER BY patient_id, physical_chromosome"""),

    // R1/J2: genotype pairing on the hom fixture (pivot of haplotype calls)
    Query("q26_hom_genotype", (s, dir) => {
      fixtureStages(s)("genotype")
        .select("patient_id", "gene_name", "haplotype_name1", "haplotype_name2")
        .orderBy("patient_id")
    },
      s"""$fixtureCallChain
         SELECT patient_id, gene_name, haplotype_name1, haplotype_name2
         FROM gt ORDER BY patient_id"""),

    // J2: genotype → phenotype equi join on the sorted haplotype pair
    Query("q27_hom_gene_phenotype", (s, dir) => {
      fixtureStages(s)("genePhenotype")
        .select("patient_id", "gene_name", "phenotype_name")
        .orderBy("patient_id")
    },
      s"""$fixtureCallChain
         SELECT patient_id, gene_name, phenotype_name
         FROM gp ORDER BY patient_id"""),

    // J4: phenotype-rule set-containment on the hom fixture
    Query("q28_hom_phenotype_recommendation", (s, dir) => {
      fixtureStages(s)("phenotypeDrugRecommendation")
        .select("patient_id", "drug_recommendation_id")
        .orderBy("patient_id")
    },
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
         WHERE gc = sa ORDER BY patient_id"""),

    // U2: het disambiguation phasings (hand-derived VALUES golden).
    Query("q29_het_variants", (s, dir) => {
      hetFixtureStages(s)("hetVariant")
        .select("patient_id", "physical_chromosome", "het_combo", "het_combos",
          "snp_id", "allele")
        .orderBy("patient_id", "het_combo", "snp_id", "physical_chromosome")
    },
      // Hand-derived golden (U2 semantics, not a SQL reformulation): h1's
      // single het splits arbitrarily with known sides on both strands
      // (AKnownBKnown, A = lesser sequence); h2's two hets admit two combos
      // ([A,A]/[G,G] then [A,G]/[G,A] in canonical order) — derived from
      // Algorithm.groovy:139-253 against the fixture matrix.
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
         ORDER BY patient_id, het_combo, snp_id, physical_chromosome"""),

    // U2→U1→R2: genotype pairing downstream of het phasing — covers the
    // ambiguous-A-side null slot (h1), multi-combo pairing (h2), and
    // het+hom strand merging (x1).
    Query("q35_het_genotype", (s, dir) => {
      hetFixtureStages(s)("genotype")
        .select("patient_id", "gene_name", "het_combo", "het_combos",
          "haplotype_name1", "haplotype_name2")
        .orderBy("patient_id", "het_combo")
    },
      // Derivation: h1 chrom A {rs1=A} is ambiguous ({*1,*5}) -> no call, so
      // only B's *2 fills slot 1; h2 combo 1 phases to (A={A,A}->*5,
      // B={G,G}->*3) and combo 2 to (A={A,G}->*1, B={G,A}->*4), sorted pairs;
      // x1 merges het rs1 with hom rs2=G on both strands: A->*1, B->*3.
      """SELECT * FROM (VALUES
           ('h1', 'g1', 1, 1, '*2', CAST(NULL AS VARCHAR)),
           ('h2', 'g1', 1, 2, '*3', '*5'),
           ('h2', 'g1', 2, 2, '*1', '*4'),
           ('x1', 'g1', 1, 1, '*1', '*3'))
         AS t(patient_id, gene_name, het_combo, het_combos, haplotype_name1, haplotype_name2)
         ORDER BY patient_id, het_combo"""),

    // J2 on het output: genotype → phenotype equi join per combo.
    Query("q36_het_gene_phenotype", (s, dir) => {
      hetFixtureStages(s)("genePhenotype")
        .select("patient_id", "gene_name", "het_combo", "het_combos",
          "phenotype_name")
        .orderBy("patient_id", "het_combo")
    },
      // (*2, null) matches no genotype_phenotype rule; the three paired
      // genotypes match the fixture rules added for the het path.
      """SELECT * FROM (VALUES
           ('h2', 'g1', 1, 2, 'poor combo'),
           ('h2', 'g1', 2, 2, 'rapid combo'),
           ('x1', 'g1', 1, 1, 'mixed function'))
         AS t(patient_id, gene_name, het_combo, het_combos, phenotype_name)
         ORDER BY patient_id, het_combo"""),

    // J4 on het output: set-containment recommendation per (patient, combo).
    Query("q37_het_recommendation", (s, dir) => {
      hetFixtureStages(s)("phenotypeDrugRecommendation")
        .select("patient_id", "het_combo", "het_combos", "drug_recommendation_id")
        .orderBy("patient_id", "het_combo")
    },
      // Each phenotype set {(g1, p)} contains exactly one rule's requirement.
      """SELECT * FROM (VALUES
           ('h2', 1, 2, CAST(4 AS BIGINT)),
           ('h2', 2, 2, CAST(5 AS BIGINT)),
           ('x1', 1, 1, CAST(3 AS BIGINT)))
         AS t(patient_id, het_combo, het_combos, drug_recommendation_id)
         ORDER BY patient_id, het_combo"""),

    // BASELINE scenario 1: full pipeline over 100k generated variant rows
    // (reference bound ≤ 10 s, PipelineLoadTest.groovy:65-75); the ingested
    // variant stage is oracle-checked against the closed-form generator.
    Query("q30_load_pipeline_100k", (s, dir) => {
      val stages = Pipeline.runJob(s, LoadBench.emptyRefs(s), 1L,
        variants = Some(LoadBench.generateVariants(s, 5000, 10)))
      stages.values.foreach(_.count()) // materialize every stage (full job)
      stages("variant")
        .select("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
        .orderBy("patient_id", "snp_id", "physical_chromosome")
    },
      """SELECT 'sample' || CAST(s AS VARCHAR) AS patient_id,
                chrom.physical_chromosome,
                'rs' || CAST((s - 1) * 5000 + v AS VARCHAR) AS snp_id,
                CASE WHEN v = 1 THEN '1' ELSE 'A' END AS allele,
                'hom' AS zygosity
         FROM generate_series(1, 10) AS samples(s),
              generate_series(1, 5000) AS vars(v),
              (VALUES ('A'), ('B')) AS chrom(physical_chromosome)
         ORDER BY patient_id, snp_id, physical_chromosome"""),

    // BASELINE scenario 2: haplotype calling against a 1,993,200-row matrix
    // (151 snps × 132 haplotypes × 100 genes) with 379×151 variants
    // (reference bound ≤ 5 min, PipelineLoadTest.groovy:83-113). Expected
    // calls have a closed form: samples 1..100 call *1 on both chromosomes.
    Query("q31_load_gene_haplotype_2M", (s, dir) => {
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
    },
      """SELECT 'sample' || CAST(s AS VARCHAR) AS patient_id,
                chrom.physical_chromosome,
                'g' || CAST(s AS VARCHAR) AS gene_name,
                '*1' AS haplotype_name
         FROM generate_series(1, 100) AS samples(s),
              (VALUES ('A'), ('B')) AS chrom(physical_chromosome)
         ORDER BY patient_id, physical_chromosome"""),

    // S14: collapse-by-key (scrape post-processing group-concat)
    Query("q32_collapse_by_key", (s, dir) => {
      graft.ops.Ingest.collapseByKey(
          t(s, dir, "documents").select("lang", "source"),
          keyCols = Seq("lang"))
        .orderBy("lang")
    },
      """SELECT lang, string_agg(DISTINCT source, '. ' ORDER BY source) AS source
         FROM documents GROUP BY lang ORDER BY lang"""),

    // S11: surrogate-key resolution (dependency-ordered load FK rewrite)
    Query("q33_fk_resolution", (s, dir) => {
      val part = t(s, dir, "part")
      val (_, resolved) = graft.ops.Ingest.resolveForeignKeys(
        part.select("p_type"), part.select("p_partkey", "p_type"),
        naturalKey = Seq("p_type"), idCol = "type_id")
      resolved.select("p_partkey", "type_id").orderBy("p_partkey")
    },
      """SELECT p_partkey, type_id FROM part
         JOIN (SELECT p_type, CAST(row_number() OVER (ORDER BY p_type) AS BIGINT) AS type_id
               FROM (SELECT DISTINCT p_type FROM part)) ids USING (p_type)
         ORDER BY p_partkey"""),

    // F6: PharmGKB phenotype-name normalization (regex port)
    Query("q34_phenotype_normalize", (s, dir) => {
      val raw = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("Poor Metabolizers (~"), col("doc_id") % 10, lit("-"),
          col("doc_id") % 20, lit("% of patients).")).as("raw"))
      raw.select(col("doc_id"),
          graft.ops.Ingest.normalizePhenotypeName(col("raw")).as("phenotype_name"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(regexp_replace(
             lower('Poor Metabolizers (~' || CAST(doc_id % 10 AS VARCHAR) || '-' ||
                   CAST(doc_id % 20 AS VARCHAR) || '% of patients).'),
             '\.+$', ''),
             '\(~\d+(-\d+)?% *(of patients)?\)', ''),
             '\s+', ' ', 'g')) AS phenotype_name
         FROM documents ORDER BY doc_id"""),

    // U4: dependency-graph layout parity (levels, 2-D row assignment,
    // dependants — Dependency.groovy:136-317) over the real pipeline shape.
    Query("q44_stage_graph_layout", (s, _) => {
      import s.implicits._
      val g = graft.pipeline.Pipeline.graphShape
      val (lv, rl, dp) = (g.levels, g.rowLevels, g.dependants)
      lv.keys.toSeq.sorted
        .map(k => (k, lv(k), rl(k), dp(k).size))
        .toDF("stage", "col_level", "row_level", "n_dependants")
        .orderBy("stage")
    },
      // Hand-derived from Dependency.groovy:136-317 over the pipeline shape:
      // col_level = shortest path to a leaf via dependants; row_level = the
      // per-column 2-D assignment (within-level roots sorted by name, each
      // DFS-numbering its within-level dependants, groups concatenated in
      // root order); n_dependants = direct dependant count.
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
         ORDER BY stage"""),

    // S9 closure mode: Upsert.merge with a caller-supplied per-column merge
    // function (Sql.groovy:399-408's ON DUPLICATE KEY UPDATE closure) —
    // matched keys ADD balances (non-merged columns keep the existing
    // value), unmatched existing rows pass through, unmatched incoming rows
    // insert. Even-key customers are the "existing" side; per-customer
    // order totals are the incoming side, so odd-key customers insert.
    Query("q90_upsert_merge", (s, dir) => {
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
    },
      // Closure-mode upsert: LEFT JOIN applies the merge to matches, the
      // NOT EXISTS branch is the insert side; decimal partials keep the
      // balance addition order-insensitive.
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
         FROM merged ORDER BY k"""),

    // U4 handler semantics (Dependency.groovy:49-54,101-116): hook firing
    // order over a graph with a swallowed failure — beforeBuild after deps,
    // onFail on the rule exception, afterBuild on success AND on swallowed
    // failure, dependants of the failed stage see the missing input and fail
    // in turn, the independent subtree still builds.
    Query("q91_stage_hooks", (s, dir) => {
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
    },
      // Hand-derived from Dependency.groovy:101-116 over the q91 graph: the
      // exact hook event sequence (deps-first order, onfail then after_failed
      // on a swallowed failure, dependant fails on the missing input,
      // independent subtree builds).
      """SELECT * FROM (VALUES
           (1, 'base', 'before'), (2, 'base', 'after_ok'),
           (3, 'bad', 'before'), (4, 'bad', 'onfail'), (5, 'bad', 'after_failed'),
           (6, 'downstream', 'before'), (7, 'downstream', 'onfail'),
           (8, 'downstream', 'after_failed'),
           (9, 'healthy', 'before'), (10, 'healthy', 'after_ok'))
         AS t(step, stage, event) ORDER BY step"""),

    // Wide→long matrix ingestion (reference
    // script/gene_haplotype_matrix_to_table.py:22-30): a deterministic
    // wide allele matrix derived from `nation` (haplotype column + three
    // SNP columns, with blank, whitespace-only and NULL cells planted)
    // unpivots to (gene_name, haplotype_name, snp_id, allele) long form;
    // blank cells surface as NULL but their rows are still emitted.
    Query("q150_matrix_unpivot", (s, dir) => {
      val wide = t(s, dir, "nation").select(
        col("n_name").as("haplotype"),
        when(col("n_nationkey") % 7 === 0, lit(""))
          .otherwise(substring(col("n_name"), 2, 1)).as("rs1"),
        when(col("n_nationkey") % 5 === 0, lit(null).cast("string"))
          .otherwise(upper(substring(col("n_name"), 1, 1))).as("rs2"),
        concat(lit("a"), (col("n_nationkey") % 4).cast("string")).as("rs3"))
      graft.ops.Ingest.matrixToLong(wide, "g1")
        .orderBy("haplotype_name", "snp_id")
    },
      // Replays matrixToLong's unpivot as a VALUES cross join: every
      // (row × snp) cell emits one long row, blank/whitespace cells → NULL.
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
         ORDER BY haplotype_name, snp_id"""))

  // ---- shared inline genomics fixture (also read by ReportQueries) ----

  private[graft] def fixtureRefs(spark: SparkSession): ReferenceTables = {
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

  private[graft] def fixtureVariantDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    fixtureVariants.toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity")
  }

  /** The fixture pipeline run: the hom and het patients share the
    * reference tables, so they run as one job and each query filters to
    * its patients. The stage frames are lazy (runJob's per-stage pins), so
    * a query executes only its own stage's lineage.
    */
  private def fixtureJob(s: SparkSession): Map[String, DataFrame] = {
    import s.implicits._
    val variants = fixtureVariantDf(s).unionByName(
      hetFixtureVariants
        .toDF("patient_id", "physical_chromosome", "snp_id", "allele", "zygosity"))
    Pipeline.runJob(s, fixtureRefs(s), 1L, variants = Some(variants))
  }

  /** Hom-patient slice of the combined fixture run (q08/q09/q26-q28 and
    * the reports).
    */
  private[queries] def fixtureStages(s: SparkSession): Map[String, DataFrame] = {
    val hom = fixtureVariants.map(_._1).distinct
    fixtureJob(s).map { case (n, df) =>
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
    * job's stages to the het patients is exactly the het-only run.
    */
  private def hetFixtureStages(s: SparkSession): Map[String, DataFrame] = {
    val het = hetFixtureVariants.map(_._1).distinct
    fixtureJob(s).map { case (n, df) =>
      n -> df.filter(col("patient_id").isin(het: _*))
    }
  }

  /** Shared oracle CTE chain for the hom-path genomics fixture: candidate
    * haplotypes (U1 semantics), unambiguous calls, genotype pivot,
    * phenotype join, and the rule tables.
    */
  private[queries] val fixtureCallChain =
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
}
